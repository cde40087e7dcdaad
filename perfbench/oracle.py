"""Expected corpus-operator outputs, computed in plain Python from the
generated rows.

Each function states what the operator must return for the generated
corpus. The workload compares the collected output of the warm-up pass
with these; later passes must then reproduce the warm-up pass's count
and checksum.
"""

from __future__ import annotations

import hashlib
import math
from array import array


def replicate(docs: list, rep: int) -> list[tuple[int, str]]:
    """(doc_id, text) of the replicated corpus, as the workload writes it:
    copy ``r`` of base document ``d`` gets id ``d * rep + r`` and a
    leading ``r<r>`` tag."""
    return [(d * rep + r, f"r{r} {text}")
            for d, text, _, _ in docs for r in range(rep)]


def shingles(text: str, n: int) -> set[str]:
    """Distinct space-joined word n-grams; whitespace tokens."""
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def session_count(events: list, gap_ms: int) -> int:
    last: dict = {}
    sessions = 0
    for _, ts, user, _, _ in events:  # events are in time order
        if user not in last or ts - last[user] > gap_ms:
            sessions += 1
        last[user] = ts
    return sessions


def expected_rows(docs: list, events: list, rep: int, gap_ms: int) -> dict:
    """Output row counts that follow from the generator alone."""
    n_docs = len(docs) * rep
    return {
        # replica tags keep copies of one document apart; the exact
        # copies within one replica collapse
        "exact_dedup": len({text for _, text, _, _ in docs}) * rep,
        # only the shared footer lines go; every document keeps its first
        "remove_boilerplate_lines": n_docs,
        "redact_pii": n_docs,
        "unigram_logprob_score": n_docs,
        "repetition_stats": n_docs,
        "sessionize": session_count(events, gap_ms),
        "funnel_counts": 3,
    }


def passage_pairs(corpus: list, n: int, min_shared: int,
                  max_gram_docs: int) -> dict:
    """{(id_a, id_b): n_shared} for document pairs sharing at least
    ``min_shared`` distinct n-grams, counting only grams found in 2 to
    ``max_gram_docs`` documents."""
    holders: dict = {}
    for doc_id, text in corpus:
        for g in shingles(text, n):
            holders.setdefault(g, []).append(doc_id)
    shared: dict = {}
    for ids in holders.values():
        if 2 <= len(ids) <= max_gram_docs:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    shared[(a, b)] = shared.get((a, b), 0) + 1
    return {k: v for k, v in shared.items() if v >= min_shared}


def check_near_dup_pairs(corpus: list, got: list, n: int,
                         threshold: float) -> str | None:
    """MinHash candidates are probabilistic, so check what is certain:
    every returned pair is ordered, unique and carries its exact shingle
    Jaccard (at least ``threshold``), and every pair of documents with
    identical shingle sets, whose signatures always collide, is returned.
    None when the output passes, else what is wrong."""
    sets = {doc_id: shingles(text, n) for doc_id, text in corpus}
    seen = set()
    for a, b, j in got:
        if not a < b or (a, b) in seen:
            return f"pair ({a}, {b}) out of order or repeated"
        seen.add((a, b))
        inter = len(sets[a] & sets[b])
        exact = inter / (len(sets[a]) + len(sets[b]) - inter)
        if exact < threshold or abs(j - round(exact, 6)) > 1e-9:
            return f"pair ({a}, {b}) has jaccard {j}, exact {exact}"
    by_set: dict = {}
    for doc_id, s in sets.items():
        by_set.setdefault(frozenset(s), []).append(doc_id)
    for ids in by_set.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if (a, b) not in seen:
                    return f"identical pair ({a}, {b}) missing"
    return None


def decontaminated(train: list, eval_docs: list, n: int) -> dict:
    """{doc_id: n_shared} for training documents sharing any n-gram
    with the evaluation documents."""
    grams = set()
    for _, text in eval_docs:
        grams |= shingles(text, n)
    out = {}
    for doc_id, text in train:
        k = len(shingles(text, n) & grams)
        if k:
            out[doc_id] = k
    return out


def redacted(docs: list, pii: dict, rep: int) -> dict:
    """{doc_id: (n_email, n_ipv4, n_phone, md5 of redacted text)}: the
    generator knows which span it planted in which document."""
    tokens = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}
    out = {}
    for doc_id, text in replicate(docs, rep):
        counts = dict.fromkeys(tokens, 0.0)
        kind_span = pii.get(doc_id // rep)
        if kind_span:
            kind, span = kind_span
            counts[kind] = 1.0
            text = text.replace(span, tokens[kind])
        out[doc_id] = (counts["email"], counts["ipv4"], counts["phone"],
                       hashlib.md5(text.encode()).hexdigest())
    return out


def semantic_keep(vecs: list, k_cells: int, tau: float) -> set[int]:
    """vec_ids kept by IVF semantic dedup: centroids are the ``k_cells``
    vectors with the smallest md5 of their id; each vector joins its
    nearest centroid's cell (ties to the lower cell); pairs within a cell
    with cosine at least ``tau`` link components, and each component
    keeps its smallest id. Vectors are float32, as stored."""
    v32 = {vid: array("f", emb).tolist() for vid, emb, _ in vecs}
    order = sorted(v32, key=lambda vid: (hashlib.md5(str(vid).encode())
                                         .hexdigest(), vid))
    cents = [v32[vid] for vid in order[:k_cells]]

    def cell(v):
        best, best_d = 0, None
        for cid, c in enumerate(cents):
            d = 0.0
            for x, y in zip(v, c):
                d += (x - y) * (x - y)
            if best_d is None or d < best_d:
                best, best_d = cid, d
        return best

    cells: dict = {}
    normed = {}
    for vid, v in v32.items():
        cells.setdefault(cell(v), []).append(vid)
        norm = math.sqrt(sum(x * x for x in v))
        normed[vid] = [x / norm for x in v]
    parent = {}

    def root(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for ids in cells.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                dot = 0.0
                for x, y in zip(normed[a], normed[b]):
                    dot += x * y
                if dot >= tau:
                    ra, rb = root(a), root(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return {vid for vid in v32 if root(vid) == vid}

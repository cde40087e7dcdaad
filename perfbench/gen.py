"""Seeded input generators and closed-form expected answers.

Everything here is a pure function of the seed and the size, so two runs
with one seed see identical inputs. The program under test only ever
receives the generated frames, files and request bodies.
"""

from __future__ import annotations

import random

SCRAPE_MS = 30_000
# 2024-01-01T00:00:00Z: a whole UTC day, so every store is one date
# partition and no query straddles a partition boundary
T0_MS = 1_704_067_200_000
CODES = ("200", "404", "500")

STORE_METRIC = "bench_http_requests_total"
INGEST_METRIC = "bench_ingest_requests_total"


# ------------------------------------------------------------- counters
def counter_series(seed: int, n_series: int, n_jobs: int) -> list[dict]:
    """Series specs: labels plus a per-second slope.

    Series i gets job ``i % n_jobs`` and code ``(i // n_jobs) % 3``."""
    rng = random.Random(seed)
    ranks = rng.sample(range(n_series * 4), n_series)
    return [
        {
            "i": i,
            "job": f"job{i % n_jobs}",
            "instance": f"host{i:05d}",
            "code": CODES[(i // n_jobs) % len(CODES)],
            "slope": 0.25 + ranks[i] / 64.0,
        }
        for i in range(n_series)
    ]


def counter_samples(spark, specs: list[dict], metric: str, t_start_ms: int,
                    n_scrapes: int):
    """Canonical samples frame: counter ``i`` reads ``slope_i * age_s``
    at every scrape, ``age_s`` counted from ``T0_MS``."""
    from pyspark.sql import functions as F

    series = spark.createDataFrame(
        [(s["i"], s["job"], s["instance"], s["code"], s["slope"]) for s in specs],
        "i int, job string, instance string, code string, slope double",
    )
    scrapes = spark.range(n_scrapes).withColumnRenamed("id", "k")
    ts = F.lit(t_start_ms) + F.col("k") * F.lit(SCRAPE_MS)
    return series.crossJoin(scrapes).select(
        F.lit(metric).alias("name"),
        F.create_map(
            F.lit("code"), F.col("code"),
            F.lit("instance"), F.col("instance"),
            F.lit("job"), F.col("job"),
        ).alias("labels"),
        ts.alias("ts"),
        (F.col("slope") * ((ts - F.lit(T0_MS)) / 1000.0)).alias("value"),
        F.lit(False).alias("is_stale"),
    )


def prom_text_batch(specs: list[dict], metric: str, t_start_ms: int,
                    n_scrapes: int) -> str:
    """Prometheus exposition text for ``n_scrapes`` scrapes of every
    series, with millisecond timestamps."""
    lines = []
    for k in range(n_scrapes):
        ts = t_start_ms + k * SCRAPE_MS
        age_s = (ts - T0_MS) / 1000.0
        for s in specs:
            lines.append(
                f'{metric}{{code="{s["code"]}",instance="{s["instance"]}",'
                f'job="{s["job"]}"}} {s["slope"] * age_s!r} {ts}'
            )
    return "\n".join(lines) + "\n"


# ----------------------------------------------------------- read back
def result_points(body: dict) -> dict:
    """/api/v1/query_range JSON → {(sorted label items): {ts_ms: value}}."""
    out = {}
    for r in body.get("data", {}).get("result", []):
        key = tuple(sorted(r["metric"].items()))
        out[key] = {int(round(float(ts) * 1000)): float(v) for ts, v in r["values"]}
    return out


def same_points(got: dict, want: dict, rel: float = 1e-9) -> bool:
    if got.keys() != want.keys():
        return False
    for key, pts in want.items():
        g = got[key]
        if g.keys() != pts.keys():
            return False
        for ts, v in pts.items():
            if abs(g[ts] - v) > rel * max(1.0, abs(v)):
                return False
    return True


# ----------------------------------------------------------------- corpus
WORDS = (
    "the a data value table row column key join merge sort scan filter "
    "group agg order line part batch stream spark window hash query "
    "vector small big fast slow customer"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PII = (("email", "user{n}@example.com"), ("ipv4", "10.0.{a}.{b}"),
       ("phone", "555-{a:03d}-{n:04d}"))


def corpus_rows(seed: int, n_base_docs: int, n_users: int,
                n_events: int, n_vecs: int, dim: int = 64):
    """Base documents, events and embeddings shaped like the repository's
    sf test tables: the same columns, a 30-word vocabulary, a footer line
    shared by a quarter of the documents, every tenth document an exact
    copy of the one before it, and a PII span in every seventh.

    Returns (docs, pii, events, vecs); ``pii`` maps a base document to the
    kind and text of the span planted in it."""
    rng = random.Random(seed)
    footers = [" ".join(rng.choice(WORDS) for _ in range(9)) for _ in range(4)]
    docs = []
    pii = {}  # base doc -> (kind, planted span)
    for d in range(n_base_docs):
        if d % 10 == 9:
            docs.append((d, docs[-1][1], LANGS[d % len(LANGS)], f"src{d % 5}"))
            if d - 1 in pii:
                pii[d] = pii[d - 1]
            continue
        body = " ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 80)))
        if d % 7 == 0:
            kind, form = rng.choice(PII)
            pii[d] = (kind, form.format(
                n=d, a=rng.randrange(256), b=rng.randrange(256)))
            body += " " + pii[d][1]
        docs.append((d, body + "\n" + footers[d % len(footers)],
                     LANGS[d % len(LANGS)], f"src{d % 5}"))
    events = []
    t = T0_MS
    for e in range(n_events):
        t += rng.randrange(1, 120_000)
        events.append((e, t, rng.randrange(n_users),
                       EVENT_TYPES[rng.randrange(len(EVENT_TYPES))],
                       round(rng.uniform(1, 200), 2)))
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(12)]
    vecs = []
    for v in range(n_vecs):
        c = v % len(centers)
        emb = [x + rng.gauss(0, 0.05 if v % 3 == 0 else 0.6) for x in centers[c]]
        norm = sum(x * x for x in emb) ** 0.5
        vecs.append((v, [x / norm for x in emb], c))
    return docs, pii, events, vecs


"""The workloads. Each one sets up its inputs from the seed, runs a
closed loop with one client for the measured seconds, checks every
answer, and returns its end-to-end and per-layer metrics."""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

from perfbench import gen, oracle
from perfbench.tracing import STAGE_FIELDS, median, tail

SETUP_REPS = 3
SESSION_GAP_MS = 3600_000

SIZES = {
    "full": {
        "ingest_mix": {"store_series": 60, "store_hours": 2,
                       "batch_series": 200, "scrapes": 10},
        "corpus": {"base_docs": 500, "rep": 4, "pair_rep": 2,
                   "users": 100, "events": 2000, "vecs": 500},
    },
    "smoke": {
        "ingest_mix": {"store_series": 30, "store_hours": 1,
                       "batch_series": 60, "scrapes": 4},
        "corpus": {"base_docs": 200, "rep": 2, "pair_rep": 2,
                   "users": 40, "events": 800, "vecs": 200},
    },
}

CORPUS_OPS = (
    "exact_dedup", "remove_boilerplate_lines", "duplicate_passage_pairs",
    "minhash_near_dup_pairs", "unigram_logprob_score", "decontaminate",
    "redact_pii", "repetition_stats", "semantic_dedup", "sessionize",
    "funnel_counts",
)

class Ctx:
    """What a workload needs from the runner, plus the run's tallies."""

    def __init__(self, spark, tracer, work_dir, seed, seconds, size):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict = {}
        self.details: dict = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def table_dir(self, table: str) -> str:
        return os.path.join(self.work, "warehouse", table.lower())


def dir_files_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's _/. files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# ------------------------------------------------------------ HTTP client
class Client:
    """The one closed-loop client: each request waits for its reply."""

    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}"

    @staticmethod
    def _send(req) -> tuple[float, int, bytes]:
        """(seconds, status, body); an error status is returned, not
        raised, so the caller's check counts it as a failed operation."""
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req) as r:
                body, status = r.read(), r.status
        except urllib.error.HTTPError as e:
            body, status = e.read(), e.code
        return time.perf_counter() - t0, status, body

    def get(self, path: str, **params) -> tuple[float, int, bytes]:
        return self._send(f"{self.base}{path}?{urllib.parse.urlencode(params)}")

    def post(self, path: str, body: bytes) -> tuple[float, int]:
        dt, status, _ = self._send(
            urllib.request.Request(self.base + path, data=body, method="POST"))
        return dt, status

    def query_range(self, query: str, start_ms: int, end_ms: int,
                    step_s: int, trace: bool) -> tuple[float, dict]:
        params = {"query": query, "start": start_ms / 1000,
                  "end": end_ms / 1000, "step": f"{step_s}s"}
        if trace:
            params["trace"] = "1"
        dt, _, body = self.get("/api/v1/query_range", **params)
        return dt, json.loads(body)


class Server:
    """``api.http.serve`` on an ephemeral loopback port, in a thread."""

    def __init__(self, api, **kw):
        from victoriametrics_spark.api.http import serve

        self.srv = serve(api, port=0, **kw)
        self.thread = threading.Thread(target=self.srv.serve_forever)
        self.thread.start()
        self.client = Client(self.srv.server_address[1])

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)


def trace_spans(tree: dict) -> tuple[float, float]:
    """(plan s, execute+collect s) from a ``trace=1`` response tree."""
    plan = exec_ = 0.0
    for c in tree.get("children", []):
        if c["message"].startswith("eval:"):
            plan += c["duration_msec"] / 1e3
        elif c["message"] == "execute plan + collect":
            exec_ += c["duration_msec"] / 1e3
    return plan, exec_


class QueryRecorder:
    """Wraps ``PromAPI.query_range`` on the instance the server calls,
    so each request's server-side wall time and Spark stages land in a
    span whose parent is the client's request id."""

    def __init__(self, ctx: Ctx, api):
        self.ctx = ctx
        self.request_id = None
        self.requests: list[dict] = []
        if not ctx.tracer.enabled:
            return
        inner = api.query_range

        def query_range(*a, **kw):
            with ctx.tracer.span("api.query_range", parent=self.request_id):
                return inner(*a, **kw)

        api.query_range = query_range

    def run(self, client: Client, query: str, start_ms: int, end_ms: int,
            step_s: int, tag: str) -> tuple[float, dict]:
        tr = self.ctx.tracer
        self.request_id = tr.new_id()
        dt, body = client.query_range(query, start_ms, end_ms, step_s,
                                      tr.enabled)
        rec = {"id": self.request_id, "latency_s": dt, "tag": tag}
        res = body.get("data", {}).get("result", [])
        rec["series"] = len(res)
        rec["points"] = sum(len(r.get("values", [])) for r in res)
        if tr.enabled:
            server = [s for s in tr.of("api.query_range")
                      if s["parent"] == self.request_id]
            rec["server_s"] = server[0]["s"] if server else dt
            rec["plan_s"], rec["exec_s"] = trace_spans(body.get("trace", {}))
        self.requests.append(rec)
        return dt, body

    def layer_metrics(self) -> dict:
        reqs = self.requests
        lat = [r["latency_s"] for r in reqs]
        t, pct, n = tail(lat)
        out = {"query.p50_s": median(lat), "query.tail_s": t,
               "query.tail_pct": pct, "query.n": n,
               "query.miss_p50_s": median(
                   r["latency_s"] for r in reqs if r["tag"] == "miss"),
               "query.hit_p50_s": median(
                   r["latency_s"] for r in reqs if r["tag"] == "hit"),
               "api.result_series": median(r["series"] for r in reqs),
               "api.result_points": median(r["points"] for r in reqs)}
        if self.ctx.tracer.enabled and reqs:
            out["engine.plan_s"] = median(r["plan_s"] for r in reqs)
            out["api.exec_collect_s"] = median(r["exec_s"] for r in reqs)
            out["api.shape_s"] = median(
                r["server_s"] - r["plan_s"] - r["exec_s"] for r in reqs)
            out["api.http_s"] = median(
                r["latency_s"] - r["server_s"] for r in reqs)
        return out


def spark_totals(spans: list[dict]) -> dict:
    return {f"spark.{f}": sum(s[f] for s in spans) for f in STAGE_FIELDS}


def plancache_delta(before: dict) -> dict:
    from victoriametrics_spark.engine.plancache import GLOBAL_PLAN_CACHE

    st = GLOBAL_PLAN_CACHE.stats
    hits = st["hits"] - before["hits"]
    misses = st["misses"] - before["misses"]
    return {"engine.plancache.hits": hits,
            "engine.plancache.misses": misses,
            "engine.plancache.hit_ratio":
                hits / (hits + misses) if hits + misses else 0.0}


def timed_parse(query: str, reps: int = 5) -> float:
    """Median time of ``metricsql.parse(query)``."""
    from victoriametrics_spark.metricsql import parse

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        parse(query)
        times.append(time.perf_counter() - t0)
    return median(times)


def measure(ctx: Ctx, one_round) -> tuple[float, dict]:
    """Run ``one_round()`` at least once and until the measured seconds
    are over. Each round returns {step: seconds}; the result is (round
    seconds, {step: [seconds per round]}), where the round seconds sum
    each step at its fastest."""
    steps: dict = {}
    t_end = time.perf_counter() + ctx.seconds
    while True:
        for name, dt in one_round().items():
            steps.setdefault(name, []).append(dt)
        if time.perf_counter() >= t_end:
            return sum(min(v) for v in steps.values()), steps


def setup_reps(ctx: Ctx, build) -> tuple[float, object]:
    """Run ``build(rep)`` SETUP_REPS times; (median seconds, last result)."""
    times, out = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = build(rep)
        times.append(time.perf_counter() - t0)
    return median(times), out


# ------------------------------------------------------------- ingest_mix
def ingest_mix(ctx: Ctx) -> dict:
    """Each cycle imports one Prometheus-text batch over HTTP, feeds the
    same batch to the stream aggregator, merges the small parts the
    append left and reads the fresh range back twice (a plan-cache miss,
    then a hit)."""
    from victoriametrics_spark.api.http import IngestAPI, PromAPI
    from victoriametrics_spark.engine.plancache import GLOBAL_PLAN_CACHE
    from victoriametrics_spark.storage.layout import (
        merge_small_parts,
        read_samples_table,
        write_samples_table,
    )
    from victoriametrics_spark.streaming.parsers import parse_prometheus_text
    from victoriametrics_spark.streaming.streamaggr import (
        MicroBatchCounterAggregator,
        StreamAggrConfig,
    )

    spark, tr = ctx.spark, ctx.tracer
    sz = SIZES[ctx.size]["ingest_mix"]
    store_specs = gen.counter_series(ctx.seed, sz["store_series"], 10)
    store_scrapes = sz["store_hours"] * 3600_000 // gen.SCRAPE_MS

    def build(rep):
        table = f"ingest_{rep}"
        write_samples_table(
            gen.counter_samples(spark, store_specs, gen.STORE_METRIC,
                                gen.T0_MS, store_scrapes),
            table,
        )
        return table

    setup_s, table = setup_reps(ctx, build)
    ctx.layers["storage.bulk_write_s"] = setup_s
    api = PromAPI(spark, read_samples_table(spark, table), samples_table=table)
    ingest = IngestAPI(spark, samples_table=table)
    if tr.enabled:
        inner_import = ingest.import_lines

        def import_lines(*a, **kw):
            with tr.span("api.import_lines"):
                return inner_import(*a, **kw)

        ingest.import_lines = import_lines
    state_dir = os.path.join(ctx.work, "streamaggr")
    agg = MicroBatchCounterAggregator(
        spark,
        StreamAggrConfig(interval_ms=60_000, outputs=["total", "increase"],
                         by=["job"]),
        state_dir,
    )
    specs = gen.counter_series(ctx.seed + 1, sz["batch_series"], 10)
    job_rate: dict = {}
    for s in specs:
        job_rate[s["job"]] = job_rate.get(s["job"], 0.0) + s["slope"]
    n_batch = len(specs) * sz["scrapes"]
    t_first = gen.T0_MS + sz["store_hours"] * 3600_000
    cycle_ms = sz["scrapes"] * gen.SCRAPE_MS
    rec = QueryRecorder(ctx, api)
    srv = Server(api, ingest_api=ingest)
    cli = srv.client
    acked = 0
    decode_s: list = []  # traced runs only; not part of a round

    def read_back(t_lo: int, t_hi: int, tag: str) -> float:
        """Per series, count_over_time over everything ingested so far
        must equal the scrapes acknowledged up to each point."""
        d_s = (t_hi - t_first) // 1000 + 30
        q = f"count_over_time({gen.INGEST_METRIC}[{d_s}s])"
        dt, body = rec.run(cli, q, t_lo, t_hi, 60, tag)
        pts = {t: float((t - t_first) // gen.SCRAPE_MS + 1)
               for t in range(t_lo, t_hi + 1, 60_000)}
        want = {tuple(sorted(
            {"code": s["code"], "instance": s["instance"], "job": s["job"]}
            .items())): pts for s in specs}
        ctx.check(gen.same_points(gen.result_points(body), want),
                  "ingest_mix: read-after-write")
        return dt

    def flush() -> float:
        dt, status, _ = cli.get("/internal/force_flush")
        ctx.check(status == 200, "ingest_mix: force_flush")
        return dt

    def merge() -> float:
        t0 = time.perf_counter()
        with tr.span("storage.merge"):
            merge_small_parts(spark, table)
        return time.perf_counter() - t0

    cycles = itertools.count()

    def cycle() -> dict:
        nonlocal acked
        t_c = t_first + next(cycles) * cycle_ms
        t_last = t_c + cycle_ms - gen.SCRAPE_MS
        body = gen.prom_text_batch(specs, gen.INGEST_METRIC, t_c,
                                   sz["scrapes"])
        # the aggregator's input: the same samples as one materialized
        # micro-batch
        batch = gen.counter_samples(spark, specs, gen.INGEST_METRIC, t_c,
                                    sz["scrapes"]).localCheckpoint()
        if tr.enabled:  # the parsers layer: decoding the same batch
            lines = spark.createDataFrame(
                [(ln,) for ln in body.splitlines()], "value string"
            ).localCheckpoint()
            t0 = time.perf_counter()
            with tr.span("parsers.decode"):
                n = parse_prometheus_text(lines, 0).count()
            decode_s.append(time.perf_counter() - t0)
            ctx.check(n == n_batch, "ingest_mix: decode count")

        steps = {}
        steps["import"], status = cli.post("/api/v1/import/prometheus",
                                           body.encode())
        ctx.check(status == 204, "ingest_mix: import status")
        acked += n_batch
        steps["import_flush"] = flush()

        t0 = time.perf_counter()
        with tr.span("streamaggr.process"):
            out = agg.process(batch)
        steps["aggregate"] = time.perf_counter() - t0
        for r in out.filter(out["name"].endswith("_increase")).collect():
            # windows after the first hold no first-ever sample, so each
            # series adds exactly one minute of its slope
            if r["ts"] - 60_000 >= t_first + 60_000:
                want = 60.0 * job_rate[r["labels"]["job"]]
                ctx.check(abs(r["value"] - want) <= 1e-9 * want,
                          "ingest_mix: streamaggr increase")
        steps["merge"] = merge()
        steps["merge_flush"] = flush()
        # the merge changed the files, so the read misses the plan cache;
        # a second viewer repeats it and hits
        steps["read_miss"] = read_back(t_c, t_last, "miss")
        steps["read_hit"] = read_back(t_c, t_last, "hit")
        return steps

    try:
        t0 = time.perf_counter()
        cycle()  # the warm-up round, kept out of round_s
        ctx.layers["setup.warmup_s"] = time.perf_counter() - t0
        decode_s.clear()
        rec.requests.clear()
        tr.spans.clear()
        before = dict(GLOBAL_PLAN_CACHE.stats)
        round_s, steps = measure(ctx, cycle)
    finally:
        srv.close()
    files, size = dir_files_bytes(ctx.table_dir(table))
    stored = len(store_specs) * store_scrapes + acked
    _, state_bytes = dir_files_bytes(state_dir)
    ctx.layers.update(plancache_delta(before))
    ctx.layers.update(rec.layer_metrics())
    imports = steps["import"]
    ctx.layers.update({
        "storage.files": files,
        "storage.bytes": size,
        "storage.merge_s": median(steps["merge"]),
        "ingest.p50_s": median(imports),
        "ingest.tail_s": tail(imports)[0],
        "ingest.samples_per_s": n_batch * len(imports) / sum(imports),
        "streamaggr.process_s": median(steps["aggregate"]),
        "streamaggr.state_mb": state_bytes / 2**20,
        "parsers.rows_invalid": sum(ingest.rows_invalid_total.values()),
    })
    ctx.details.update(steps=steps, decode_s=decode_s, requests=rec.requests)
    if tr.enabled:
        tr.settle()
        imp = [s["s"] for s in tr.of("api.import_lines")]
        ctx.layers["parsers.decode_s"] = median(decode_s)
        ctx.layers["storage.append_s"] = median(imp) - median(decode_s)
        ctx.layers["metricsql.parse_s"] = timed_parse(
            f"count_over_time({gen.INGEST_METRIC}[600s])")
        ctx.layers.update(spark_totals(tr.spans))
    return {
        "setup_s": setup_s,
        "round_s": round_s,
        "bytes_per_row": size / stored,
    }


# ----------------------------------------------------------------- corpus
def corpus(ctx: Ctx) -> dict:
    """One batch pass of eleven operators over a seeded corpus; each
    operator is forced by a count plus an xxhash checksum of every
    output column."""
    from pyspark.sql import functions as F

    from victoriametrics_spark.operators.dedup import (
        duplicate_passage_pairs,
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from victoriametrics_spark.operators.events import (
        funnel_counts,
        sessionize,
    )
    from victoriametrics_spark.operators.knn import semantic_dedup
    from victoriametrics_spark.operators.text import (
        decontaminate,
        redact_pii,
        remove_boilerplate_lines,
        repetition_stats,
        unigram_logprob_score,
    )

    spark, tr = ctx.spark, ctx.tracer
    sz = SIZES[ctx.size]["corpus"]
    rep = sz["rep"]

    def build(i):
        docs, pii, events, vecs = gen.corpus_rows(
            ctx.seed, sz["base_docs"], sz["users"], sz["events"], sz["vecs"])
        base = spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string")
        # a replica tag opens each copy's first line, so content hashes
        # and first lines differ while shingles and passages overlap
        d = base.crossJoin(spark.range(rep).withColumnRenamed("id", "r")).select(
            (F.col("doc_id") * rep + F.col("r")).alias("doc_id"),
            F.concat(F.lit("r"), F.col("r").cast("string"), F.lit(" "), "text")
            .alias("text"),
            "lang", "source",
        )
        e = spark.createDataFrame(
            events,
            "event_id long, ts long, user_id long, event_type string, value double",
        ).withColumn("ts", F.timestamp_millis("ts"))
        v = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
        root = os.path.join(ctx.work, f"corpus_{i}")
        for name, df in (("documents", d), ("events", e), ("embeddings", v)):
            df.write.parquet(os.path.join(root, name))
        return root, docs, pii, events, vecs

    setup_s, (root, docs0, pii0, events0, vecs0) = setup_reps(ctx, build)
    n_rows = len(docs0) * rep + len(events0) + len(vecs0)
    docs = spark.read.parquet(os.path.join(root, "documents"))
    events = spark.read.parquet(os.path.join(root, "events"))
    embs = spark.read.parquet(os.path.join(root, "embeddings"))
    # the pair operators are quadratic in replicas per base doc: cap them
    pair_docs = docs.filter(F.col("doc_id") % rep < sz["pair_rep"])
    ops = {
        "exact_dedup": lambda: exact_dedup(docs, ["text"], "doc_id"),
        "remove_boilerplate_lines":
            lambda: remove_boilerplate_lines(docs, min_docs=3),
        "duplicate_passage_pairs": lambda: duplicate_passage_pairs(
            pair_docs, n=8, min_shared=2, max_gram_docs=50),
        "minhash_near_dup_pairs":
            lambda: minhash_near_dup_pairs(pair_docs, threshold=0.8),
        "unigram_logprob_score":
            lambda: unigram_logprob_score(docs, vocab_size=1000),
        "decontaminate": lambda: decontaminate(
            docs.filter(F.col("doc_id") % 29 != 0),
            docs.filter(F.col("doc_id") % 29 == 0).orderBy("doc_id").limit(200),
            n=4),
        "redact_pii": lambda: redact_pii(docs),
        "repetition_stats": lambda: repetition_stats(docs),
        "semantic_dedup": lambda: semantic_dedup(embs, 0.9, k_cells=8),
        "sessionize": lambda: sessionize(events, gap_ms=SESSION_GAP_MS),
        "funnel_counts": lambda: funnel_counts(
            events, ["view", "click", "purchase"], 86400_000),
    }
    expect_rows = oracle.expected_rows(docs0, events0, rep, SESSION_GAP_MS)
    content_checks = corpus_content_checks(docs0, pii0, vecs0, rep,
                                           sz["pair_rep"])
    first: dict = {}  # op -> (rows, checksum) of the warm-up pass

    def one_pass(verify: bool = False) -> dict:
        """Run every operator once; {op: seconds}. The warm-up pass also
        checks each output against the oracle, outside the timed call;
        measured passes must reproduce its row count and checksum."""
        times = {}
        for name in CORPUS_OPS:
            t0 = time.perf_counter()
            with tr.span(f"operators.{name}"):
                df = ops[name]()
                row = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*df.columns) % F.lit(1_000_003)).alias("h"),
                ).first()
            times[name] = time.perf_counter() - t0
            got = (row["n"], row["h"])
            if not verify:
                ctx.check(got == first[name],
                          f"corpus {name}: output changed between passes")
                continue
            first[name] = got
            if name in expect_rows:
                ctx.check(got[0] == expect_rows[name],
                          f"corpus {name}: {got[0]} rows, want {expect_rows[name]}")
            if name in content_checks:
                err = content_checks[name](df.collect())
                ctx.check(err is None, f"corpus {name}: {err}")
        return times

    t0 = time.perf_counter()
    one_pass(verify=True)  # the warm-up round, kept out of round_s
    ctx.layers["setup.warmup_s"] = time.perf_counter() - t0
    tr.spans.clear()
    round_s, op_s = measure(ctx, one_pass)
    ctx.details["ops"] = op_s
    _, size = dir_files_bytes(root)
    tr.settle()
    for name in CORPUS_OPS:
        ctx.layers[f"operators.{name}.s"] = min(op_s[name])
        if tr.enabled:
            spans = tr.of(f"operators.{name}")
            ctx.layers[f"operators.{name}.shuffle_write_mb"] = median(
                s["shuffle_write_mb"] for s in spans)
            ctx.layers[f"operators.{name}.spark_jobs"] = median(
                s["jobs"] for s in spans)
    if tr.enabled:
        ctx.layers.update(spark_totals(tr.spans))
    ctx.layers["storage.bytes"] = size
    return {
        "setup_s": setup_s,
        "round_s": round_s,
        "bytes_per_row": size / n_rows,
    }


def corpus_content_checks(docs: list, pii: dict, vecs: list, rep: int,
                          pair_rep: int) -> dict:
    """{op: check(collected rows) -> None or what is wrong} for the
    operators whose whole output follows from the generated corpus."""
    corpus = oracle.replicate(docs, rep)
    pair_corpus = [(i, t) for i, t in corpus if i % rep < pair_rep]
    train = [(i, t) for i, t in corpus if i % 29 != 0]
    evals = sorted((i, t) for i, t in corpus if i % 29 == 0)[:200]

    def same(what: str, got: dict, want: dict):
        if got == want:
            return None
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"{what}: {len(got)} rows, want {len(want)}; differ at {diff}"

    return {
        "duplicate_passage_pairs": lambda rows: same(
            "pairs", {(r["id_a"], r["id_b"]): r["n_shared"] for r in rows},
            oracle.passage_pairs(pair_corpus, 8, 2, 50)),
        "minhash_near_dup_pairs": lambda rows: oracle.check_near_dup_pairs(
            pair_corpus, [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows],
            3, 0.8),
        "decontaminate": lambda rows: same(
            "contaminated", {r["doc_id"]: r["n_shared"] for r in rows},
            oracle.decontaminated(train, evals, 4)),
        "redact_pii": lambda rows: same(
            "redacted", {r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_phone"],
                                       r["redacted_md5"]) for r in rows},
            oracle.redacted(docs, pii, rep)),
        "semantic_dedup": lambda rows: same(
            "kept", dict.fromkeys((r["vec_id"] for r in rows), 1),
            dict.fromkeys(oracle.semantic_keep(vecs, 8, 0.9), 1)),
    }


WORKLOADS = {"ingest_mix": ingest_mix, "corpus": corpus}

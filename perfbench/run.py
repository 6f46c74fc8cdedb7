"""Benchmark of the catalog-backed index engine.

    python3 perfbench/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (see perfbench/README.md):

  build  one ``IndexBuilder.build`` of a seeded corpus staged as parquet
         into a fresh catalog, repeated until ``--seconds`` have passed.
  serve  a closed loop of one client calling ``QueryService.run`` (WAND)
         then ``.collect()`` against a catalog built in set-up.

Every result is checked against the pure-Python oracle (tests/oracle.py)
after the timed part.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics, taken from spans recorded
around calls into the engine and from Spark/JVM counters.  The last
stdout line is one JSON object: correct, attempted, failed, metrics.
All files go to ``.perfbench/`` in the checkout; the run's scratch
directory is removed at exit, traces are kept in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

N_BUILD_DOCS = 1000
BUILD_BATCHES = 1
N_SERVE_DOCS = 300
SETUP_REPS = 3          # fresh QueryService + first query, median reported
WARMUP_QUERIES = 5      # served after set-up, checked but not timed
K = 10
N_SERVE_QUERIES = 200   # more than a run can use; the loop stops on time
N_BATCH_QUERIES = 1000  # traced serve run: one wand_topk_batch job
REFRESH_DOCS = 100      # traced serve run: one streamed batch ...
REFRESH_OVERLAP = 10    # ... of which this many re-crawl a base url
REFRESH_QUERIES = 5     # queries served right after the drain
TEXT_SAMPLE = 200       # docs timed single-threaded through the text layer


def index_config():
    from ir_index_construction_spark.config import BuildConfig, IndexConfig

    # several document shards at a few hundred docs, so the shard scorer
    # runs on every core; one encode term bucket, as the cold JVM makes
    # each extra partition commit cost seconds at this size
    return BuildConfig(index=IndexConfig(shard_size=128, term_buckets=1))


class Bench:
    """One run: its scratch directory, Spark session and probes."""

    def __init__(self, seed: int, seconds: float, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = ROOT / ".perfbench" / f"run-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)
        self.spark = None
        self.session_s = 0.0
        self.cfg = index_config()
        import probes
        self.tracer = probes.Tracer()
        self.layers: dict = {}

    def start_spark(self):
        from ir_index_construction_spark.session import get_spark

        w = self.work
        os.environ["SPARK_LOCAL_DIRS"] = str(w / "spark-local")
        os.environ["TMPDIR"] = str(w / "tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={w / 'warehouse'} "
            f"--driver-java-options -Djava.io.tmpdir={w / 'tmp'} "
            "pyspark-shell")
        t0 = time.perf_counter()
        self.spark = get_spark(cpus=len(os.sched_getaffinity(0)))
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self):
        """Stop Spark and its JVM, wait for them, drop the scratch dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


# ---- shared measurements ------------------------------------------------

def catalog_bytes(cat, table: str | None = None) -> int:
    """Bytes of the data files in the current snapshot of ``table`` (or of
    every table)."""
    cur = cat._catalog_current()
    tables = [table] if table else list(cur["tables"])
    total = 0
    for t in tables:
        snap = cat.current_snapshot(t)
        total += sum(os.path.getsize(os.path.join(cat.root, t, f))
                     for f in snap["files"])
    return total


def build_matches_oracle(spark, cat, index) -> bool:
    stats = cat.read(spark, "stats").collect()[0]
    n_terms = cat.read(spark, "dictionary").count()
    return (stats["n_docs"] == index.n_docs
            and stats["n_terms"] == len(index.postings)
            and n_terms == len(index.postings))


def builder_layers(b: Bench, cat, build_id: str, wall: float):
    from pyspark.sql import functions as F

    rows = (cat.read(b.spark, "metrics")
            .filter(F.col("build_id") == build_id)
            .groupBy("stage")
            .agg(F.sum("wall_sec").alias("s"),
                 F.sum("bytes_compressed").alias("bytes"))
            .collect())
    walls = {r["stage"]: r["s"] for r in rows}
    for stage in ("prepare", "tokenize", "stats", "encode", "segment"):
        b.layers[f"builder.{stage}_s"] = walls.get(stage, 0.0)
    b.layers["builder.unattributed_s"] = wall - sum(walls.values())
    b.layers["builder.bytes_compressed"] = sum(r["bytes"] for r in rows)
    post = (cat.read(b.spark, "lineage")
            .filter((F.col("build_id") == build_id)
                    & (F.col("stage") == "encode"))
            .agg(F.sum("rows_in")).collect()[0][0])
    b.layers["builder.postings"] = post or 0


def text_layers(b: Bench, rows: list):
    """Single-thread text layer cost on a seeded sample of the corpus:
    the zone extraction and term statistics the tokenize stage runs."""
    import random

    from ir_index_construction_spark.text import (doc_term_stats,
                                                  extract_zones,
                                                  make_cached_stemmer)

    sample = random.Random(f"text-{b.seed}").sample(
        rows, min(TEXT_SAMPLE, len(rows)))
    stemmer = make_cached_stemmer()
    t0 = time.perf_counter()
    zones = [extract_zones(r["html"]) for r in sample]
    t1 = time.perf_counter()
    for z in zones:
        doc_term_stats(z, stemmer)
    t2 = time.perf_counter()
    b.layers["text.extract_us_per_doc"] = (t1 - t0) / len(sample) * 1e6
    b.layers["text.analyze_us_per_doc"] = (t2 - t1) / len(sample) * 1e6


def codec_layers(b: Bench, cat, query_texts: list):
    """Driver-side decode/encode rates on the query terms' index rows, and
    compressed bytes per posting over the whole index."""
    import numpy as np
    from pyspark.sql import functions as F

    from ir_index_construction_spark.functions.codec import (
        decode_chunk, encode_chunks_many)
    from ir_index_construction_spark.text import parse_query

    index = cat.read(b.spark, "index")
    agg = index.agg(F.sum(F.octet_length("payload")),
                    F.sum("n_postings")).collect()[0]
    b.layers["codec.bytes_per_posting"] = agg[0] / agg[1]
    terms = sorted({t for q in query_texts for t in parse_query(q)[0]})
    rows = (index.filter(F.col("term").isin(terms))
            .select("term", "shard", "chunk", "payload", "block_last_doc")
            .collect())
    if not rows:
        return
    rows.sort(key=lambda r: (r["term"], r["shard"], r["chunk"]))
    n, t0, reps = 0, time.perf_counter(), 0
    while reps == 0 or time.perf_counter() - t0 < 0.3:
        decoded = [decode_chunk(r["payload"], r["block_last_doc"])
                   for r in rows]
        n += sum(len(d[0]) for d in decoded)
        reps += 1
    b.layers["codec.decode_postings_per_s"] = n / (time.perf_counter() - t0)

    starts, cols, pos, prev = [], [[], [], [], []], 0, None
    for r, d in zip(rows, decoded):
        if r["term"] != prev:
            starts.append(pos)
            prev = r["term"]
        for c, arr in zip(cols, d):
            c.append(arr)
        pos += len(d[0])
    ids, tfs, dls, imps = (np.concatenate(c) for c in cols)
    stats = cat.read(b.spark, "stats").collect()[0]
    ic, bm = b.cfg.index, b.cfg.bm25
    n, t0, reps = 0, time.perf_counter(), 0
    while reps == 0 or time.perf_counter() - t0 < 0.3:
        encode_chunks_many(ids, tfs, dls, imps, starts, float(stats["avgdl"]),
                           bm.k1, bm.b, ic.block_size, ic.chunk_blocks)
        n += len(ids)
        reps += 1
    b.layers["codec.encode_postings_per_s"] = n / (time.perf_counter() - t0)


def span_layers(b: Bench, mark: int, counters0: dict, n_ops: int):
    """Catalog spans from the start of the run (serve: its set-up drain;
    build: the timed builds) and query-path spans since ``mark``."""
    tr = b.tracer
    b.layers["catalog.commits"] = tr.n("catalog.commit")
    b.layers["catalog.commit_s"] = tr.total_s("catalog.commit")
    b.layers["catalog.stage_s"] = tr.total_s("catalog.stage")
    b.layers["query.idf_lookup_ms"] = (
        tr.total_s("query.idf_lookup", since=mark) * 1e3 / max(n_ops, 1))
    asked = tr.counters.get("idf.terms", 0) - counters0.get("idf.terms", 0)
    hit = tr.counters.get("idf.cached", 0) - counters0.get("idf.cached", 0)
    b.layers["query.idf_cache_hit_ratio"] = hit / asked if asked else 0.0
    b.layers["trace.spans"] = len(tr.spans)


def jobs_layers(b: Bench, groups: list):
    import probes

    counts = [probes.job_counts(b.spark, g) for g in groups]
    for i, name in enumerate(("jobs", "stages", "tasks")):
        b.layers[f"spark.{name}_per_op"] = (
            sum(c[i] for c in counts) / max(len(counts), 1))


def set_group(b: Bench, group: str):
    if b.trace:
        b.spark.sparkContext.setJobGroup(group, group)


# ---- workloads ------------------------------------------------------------

def run_build(b: Bench) -> dict:
    import inputs
    import oracle
    import probes
    from ir_index_construction_spark.plans.builder import IndexBuilder
    from ir_index_construction_spark.schemas import DOCUMENTS
    from ir_index_construction_spark.sources.catalog import Catalog

    rows = inputs.corpus(b.seed, N_BUILD_DOCS)
    in_dir = b.work / "input"
    in_dir.mkdir()
    in_bytes = inputs.stage_parquet(rows, str(in_dir / "part-0.parquet"))
    index = oracle.build_index(rows)
    spark = b.start_spark()

    docs = spark.read.schema(DOCUMENTS).parquet(str(in_dir))
    walls, cats, groups = [], [], []
    io0, gc0 = probes.spark_io(spark), probes.jvm_gc_ms(spark)
    mark, c0 = len(b.tracer.spans), dict(b.tracer.counters)
    noise = probes.Interference()
    deadline = time.perf_counter() + b.seconds
    while not walls or time.perf_counter() < deadline:
        i = len(walls)
        groups.append(f"build-{i}")
        set_group(b, groups[-1])
        cats.append(Catalog(str(b.work / f"catalog-{i}")))
        t0 = time.perf_counter()
        IndexBuilder(cats[-1], b.cfg, build_id=groups[-1],
                     n_batches=BUILD_BATCHES).build(docs)
        walls.append(time.perf_counter() - t0)
    noise = noise.read()
    if b.trace:
        b.layers.update({f"spark.{k}": v for k, v in
                         probes.delta(probes.spark_io(spark), io0).items()})
        b.layers["jvm.gc_ms"] = probes.jvm_gc_ms(spark) - gc0

    failed = sum(not build_matches_oracle(spark, c, index) for c in cats)
    cat = cats[-1]
    wall = statistics.median(walls)
    metrics = {
        "setup_s": (b.session_s, "s"),
        "items_per_s": (N_BUILD_DOCS / wall, "1/s"),
        "latency_p50_ms": (wall * 1e3, "ms"),
        "cpu_ms_per_item": (noise["own_cpu_s"] * 1e3
                            / (N_BUILD_DOCS * len(walls)), "ms"),
        "index_bytes_per_doc": (catalog_bytes(cat, "index") / index.n_docs,
                                "B/doc"),
        "catalog_bytes_per_input_byte": (catalog_bytes(cat) / in_bytes,
                                         "ratio"),
    }
    if b.trace:
        builder_layers(b, cat, groups[-1], walls[-1])
        text_layers(b, rows)
        codec_layers(b, cat, inputs.REFERENCE_QUERIES)
        span_layers(b, mark, c0, 0)
        jobs_layers(b, groups)
    return {"attempted": len(walls), "failed": failed, "metrics": metrics,
            "noise": noise, "samples": walls}


def run_serve(b: Bench) -> dict:
    import check
    import inputs
    import oracle
    import probes
    from submit_query import QueryService

    from ir_index_construction_spark.sources.catalog import Catalog

    rows = inputs.corpus(b.seed, N_SERVE_DOCS)
    src = b.work / "stream"
    src.mkdir()
    in_bytes = inputs.stage_parquet(rows, str(src / "base.parquet"))
    index = oracle.build_index(rows)
    seen: set = set()
    warmups = inputs.queries(b.seed, SETUP_REPS, stream="warmup",
                             reference=False, seen=seen)
    stream = inputs.queries(b.seed, N_SERVE_QUERIES, seen=seen)
    spark = b.start_spark()

    # the served catalog is cold-started by one streamed micro-batch
    # (incremental_index_update on an empty catalog)
    cat = Catalog(str(b.work / "catalog"))
    base_s, grew = drain(b, cat)
    base_failed = int(grew != index.n_docs)
    warm = []
    for q in warmups:
        t0 = time.perf_counter()
        svc = QueryService(spark, cat)
        svc.run(q, K, "wand", False).collect()
        warm.append(time.perf_counter() - t0)
    setup_s = b.session_s + base_s + statistics.median(warm)

    # The JVM is still compiling the query path after set-up, so the first
    # queries of a service are its slowest and least steady; serve a few
    # before the clock starts.  Their results are checked like the rest.
    results = [(q, ranked(svc.run(q, K, "wand", False).collect()))
               for q in stream[:WARMUP_QUERIES]]
    stream = stream[WARMUP_QUERIES:]

    lat, plan, execs, groups, errors = [], [], [], [], 0
    io0, gc0 = probes.spark_io(spark), probes.jvm_gc_ms(spark)
    mark, c0 = len(b.tracer.spans), dict(b.tracer.counters)
    noise = probes.Interference()
    deadline = time.perf_counter() + b.seconds
    for q in stream:
        if groups and time.perf_counter() >= deadline:
            break
        groups.append(f"q-{len(groups)}")
        set_group(b, groups[-1])
        t0 = time.perf_counter()
        try:
            df = svc.run(q, K, "wand", False)
            t1 = time.perf_counter()
            got = df.collect()
        except Exception:
            traceback.print_exc()
            errors += 1
            continue
        t2 = time.perf_counter()
        lat.append(t2 - t0)
        plan.append(t1 - t0)
        execs.append(t2 - t1)
        results.append((q, ranked(got)))
    noise = noise.read()
    if b.trace:
        b.layers.update({f"spark.{k}": v for k, v in
                         probes.delta(probes.spark_io(spark), io0).items()})
        b.layers["jvm.gc_ms"] = probes.jvm_gc_ms(spark) - gc0
        span_layers(b, mark, c0, len(lat))
        jobs_layers(b, groups)

    id_of = doc_ids_by_url(spark, cat)
    failed = (base_failed + errors
              + check.count_mismatches(results, index, id_of, K))
    attempted = 1 + WARMUP_QUERIES + len(groups)
    p50 = statistics.median(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (len(lat) / sum(lat), "1/s"),
        "latency_p50_ms": (p50 * 1e3, "ms"),
        "cpu_ms_per_item": (noise["own_cpu_s"] * 1e3 / len(groups), "ms"),
        "index_bytes_per_doc": (catalog_bytes(cat, "index") / index.n_docs,
                                "B/doc"),
        "catalog_bytes_per_input_byte": (catalog_bytes(cat) / in_bytes,
                                         "ratio"),
    }
    if b.trace:
        b.layers["query.plan_ms"] = statistics.median(plan) * 1e3
        b.layers["query.exec_ms"] = statistics.median(execs) * 1e3
        text_layers(b, rows)
        codec_layers(b, cat, stream[:len(lat)])
        a, f = batch_extra(b, cat, index, id_of)
        attempted, failed = attempted + a, failed + f
        a, f = refresh_extra(b, cat, svc, rows, index)
        attempted, failed = attempted + a, failed + f
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "noise": noise, "samples": lat}


def batch_extra(b: Bench, cat, index, id_of: dict) -> tuple:
    """Traced serve run only: one ``wand_topk_batch`` job over a seeded
    query set against the same catalog; per-job overhead is amortised,
    so the shard scorer dominates."""
    import check
    import inputs

    from ir_index_construction_spark.operators.topk import wand_topk_batch

    spark = b.spark
    qs = inputs.queries(b.seed, N_BATCH_QUERIES, stream="batch")
    stats = cat.read(spark, "stats").collect()[0]
    t0 = time.perf_counter()
    out = wand_topk_batch(cat.read(spark, "index"),
                          cat.read(spark, "dictionary"),
                          cat.read(spark, "docs"),
                          {str(i): q for i, q in enumerate(qs)},
                          stats["n_docs"], float(stats["avgdl"]),
                          k=K).collect()
    b.layers["batch.queries_per_s"] = len(qs) / (time.perf_counter() - t0)
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    results = [(q, ranked(by_q.get(str(i), []))) for i, q in enumerate(qs)]
    return len(results), check.count_mismatches(results, index, id_of, K)


def refresh_extra(b: Bench, cat, svc, base_rows: list, index) -> tuple:
    """Traced serve run only: drain one more streamed batch into the
    served catalog, then serve queries through the same service, the
    first of which pays the snapshot reload."""
    import check
    import inputs
    import oracle

    new = inputs.refresh_batch(b.seed, 0, REFRESH_DOCS, base_rows,
                               REFRESH_OVERLAP)
    after = oracle.build_index(base_rows + new)
    inputs.stage_parquet(new, str(b.work / "stream" / "batch-0.parquet"))
    drain_s, grew = drain(b, cat)
    b.layers["incremental.drain_s_per_batch"] = drain_s
    b.layers["incremental.docs_committed"] = grew
    b.layers["incremental.index_files"] = len(
        cat.current_snapshot("index")["files"])
    failed = int(grew != after.n_docs - index.n_docs)

    lat, results = [], []
    for q in inputs.queries(b.seed, REFRESH_QUERIES, stream="refresh"):
        t0 = time.perf_counter()
        got = svc.run(q, K, "wand", False).collect()
        lat.append(time.perf_counter() - t0)
        results.append((q, ranked(got)))
    b.layers["query.snapshot_reload_ms"] = (
        lat[0] - statistics.median(lat[1:])) * 1e3
    failed += check.count_mismatches(results, after,
                                     doc_ids_by_url(b.spark, cat), K)
    return 1 + len(results), failed


def drain(b: Bench, cat) -> tuple:
    """Drain the stream directory into ``cat`` keeping the compressed
    index current; returns (seconds, docs the drain committed).  A drain
    that commits nothing (e.g. its batch is already in the exactly-once
    ledger) shows as 0 docs, which the callers count as a failure."""
    from ir_index_construction_spark.streaming.incremental import (
        incremental_index_update)

    def n_docs():
        if not cat.table_exists("stats"):
            return 0
        return cat.read(b.spark, "stats").collect()[0]["n_docs"]

    n0 = n_docs()
    t0 = time.perf_counter()
    incremental_index_update(b.spark, cat, str(b.work / "stream"),
                             str(b.work / "checkpoint"),
                             maintain_index=True, index_cfg=b.cfg.index)
    wall = time.perf_counter() - t0
    return wall, n_docs() - n0


def doc_ids_by_url(spark, cat) -> dict:
    return {r["url"]: r["doc_id"] for r in
            cat.read(spark, "docs").select("doc_id", "url").collect()}


def ranked(rows) -> list:
    """Engine result rows -> [(doc_id, score)] in rank order."""
    return [(r["doc_id"], r["score"])
            for r in sorted(rows, key=lambda r: r["rank"])]


WORKLOADS = {"build": run_build, "serve": run_serve}

# per-layer metric -> unit; a traced run reports every one (0 where the
# workload does not exercise the layer)
PER_LAYER = {
    "text.extract_us_per_doc": "us", "text.analyze_us_per_doc": "us",
    "builder.prepare_s": "s", "builder.tokenize_s": "s",
    "builder.stats_s": "s", "builder.encode_s": "s",
    "builder.segment_s": "s", "builder.unattributed_s": "s",
    "builder.postings": "count", "builder.bytes_compressed": "B",
    "codec.bytes_per_posting": "B/posting",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "catalog.commits": "count", "catalog.commit_s": "s",
    "catalog.stage_s": "s",
    "incremental.drain_s_per_batch": "s",
    "incremental.docs_committed": "count",
    "incremental.index_files": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "query.plan_ms": "ms", "query.exec_ms": "ms",
    "query.idf_lookup_ms": "ms", "query.idf_cache_hit_ratio": "ratio",
    "query.snapshot_reload_ms": "ms",
    "batch.queries_per_s": "1/s",
    "spark.input_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.executor_run_s": "s",
    "jvm.gc_ms": "ms",
    "run.ext_busy_cores": "cores", "run.steal_cores": "cores",
    "mem.peak_pss_mb": "MB",
    "trace.latency_p50_ms": "ms", "trace.items_per_s": "1/s",
    "trace.spans": "count",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ir_index_construction_spark" / "__init__.py").is_file() \
            or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: no engine checkout at {ROOT} (needs "
              "ir_index_construction_spark/ and tests/oracle.py)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "tests"), str(ROOT / "tools")]
    # Spark's Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    import probes

    b = Bench(args.seed, args.seconds, bool(args.trace))
    try:
        if b.trace:
            # the memory sampler reads /proc from a driver thread, so it
            # runs only in the traced run, off the end-to-end figures
            with probes.MemSampler() as mem, probes.patched(b.tracer):
                out = WORKLOADS[args.workload](b)
        else:
            out = WORKLOADS[args.workload](b)
    finally:
        b.close()
    metrics = out["metrics"]

    record = {"workload": args.workload, "seed": args.seed,
              "samples_ms": [round(x * 1e3, 1) for x in out["samples"]],
              "failed_ratio": out["failed"] / out["attempted"],
              **{k: round(v, 3) for k, v in out["noise"].items()}}
    if b.trace:
        record["peak_pss_mb"] = round(mem.peak_mb)
        record["peak_pss_parts_mb"] = {k: round(v) for k, v in
                                       mem.peak_parts.items()}
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(b.layers)
        layers["run.ext_busy_cores"] = out["noise"]["ext_busy_cores"]
        layers["run.steal_cores"] = out["noise"]["steal_cores"]
        layers["mem.peak_pss_mb"] = mem.peak_mb
        layers["trace.latency_p50_ms"] = metrics["latency_p50_ms"][0]
        layers["trace.items_per_s"] = metrics["items_per_s"][0]
        tdir = ROOT / ".perfbench" / "traces"
        tdir.mkdir(parents=True, exist_ok=True)
        with open(tdir / f"{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({"record": record, "layers": layers,
                       **b.tracer.dump()}, f)
        shown = {k: {"value": v, "unit": PER_LAYER[k]}
                 for k, v in layers.items()}
    else:
        shown = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"run": record}))
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

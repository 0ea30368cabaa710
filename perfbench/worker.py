"""The measured process of one benchmark run (started by ``run.py``).

Runs one workload as a closed loop with one client: set up, one cold pass,
then passes back to back until ``--seconds`` have elapsed (the pass in
progress finishes). Correctness checks run after the timed window. With
``--trace 1`` the timed passes alternate between untraced passes and
traced passes, which time each layer and attribute Spark jobs to it.

Writes one JSON document to ``--out``; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from datetime import datetime

import tracing as tr

import dumpgen

MB = 1 << 20


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class Ingest:
    """``ingest_dumps``: ``pipeline.load_dumps`` over four gzipped dumps."""

    # A pass is short, so the second one still runs partly interpreted code
    # and its CPU time moves with how far JIT compilation has got.
    warmup_passes = 1

    def __init__(self, spark, inputs: str, run_dir: str, spans) -> None:
        self.spark, self.spans = spark, spans
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.files = {k: os.path.join(inputs, os.path.basename(v))
                      for k, v in self.manifest["files"].items()}
        sizes = {k: os.path.getsize(v) for k, v in self.files.items()}
        # the releases dump goes through the pre-shard path, the others are
        # one gzip = one parse task, as at full size
        self.shard_min = max(v for k, v in sizes.items() if k != "releases") + 1
        self.shard_target = max(1, self.manifest["releases_xml_bytes"] // os.cpu_count())
        self.out_root = os.path.join(run_dir, "out")
        self.records = self.manifest["input_records"]
        self.outputs: list[str] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.setup_layers: dict[str, float] = {}

    def setup(self) -> None:
        pass

    def run_pass(self, i: int, cold: bool = False) -> tuple[float, float]:
        from discogs_load_spark.pipeline import load_dumps

        out = os.path.join(self.out_root, f"pass-{i}")
        meter = tr.Meter()
        self.attempted += 1
        try:
            load_dumps(self.spark, list(self.files.values()), parquet_dir=out,
                       shard_min_bytes=self.shard_min,
                       shard_target_bytes=self.shard_target)
        except Exception:
            self._fail(f"load_dumps pass {i}")
        self.spark.catalog.clearCache()
        self.outputs.append(out)
        return meter.read()

    def run_traced_pass(self, i: int) -> dict:
        """The calls ``load_dumps`` makes, one layer per span, materialized
        at each boundary."""
        from discogs_load_spark.operators.shred import shred
        from discogs_load_spark.schemas import OUTPUT_SCHEMAS
        from discogs_load_spark.sinks.files import write_parquet
        from discogs_load_spark.sinks.postgres import copy_encode_row
        from discogs_load_spark.sources.gzip_shard import preshard_gzip_dump
        from discogs_load_spark.sources.xml_source import read_dump, sniff_root_tag

        out = os.path.join(self.out_root, f"pass-{i}")
        shard_dir = os.path.join(self.out_root, f"shards-{i}")
        sp = self.spans
        meter = tr.Meter()
        self.attempted += 1
        try:
            with sp.span("xml_source.sniff") as s_sniff:
                by_kind = {sniff_root_tag(p): [p] for p in self.files.values()}
            with sp.span("gzip_shard") as s_shard:
                by_kind["releases"] = preshard_gzip_dump(
                    by_kind["releases"][0], shard_dir, self.shard_target, "releases")
            raws, raw_rows = {}, 0
            with sp.span("xml_source.parse") as s_parse:
                for kind, paths in by_kind.items():
                    raws[kind] = read_dump(self.spark, paths, kind).persist()
                    raw_rows += raws[kind].count()
            tables, parents = {}, 0
            with sp.span("shred") as s_shred:
                for kind, raw in raws.items():
                    for name, df in shred(raw, kind).items():
                        tables[name] = df.persist()
                        n = tables[name].count()
                        parents += n if name in ("release", "artist", "label", "master") else 0
            with sp.span("files") as s_files:
                for name, df in tables.items():
                    write_parquet(df, os.path.join(out, name))
            encoded = 0
            with sp.span("postgres.copy_encode") as s_pg:
                pg_cpu = tr.tree_cpu_s()
                for name, df in tables.items():
                    schema = OUTPUT_SCHEMAS[name]
                    encoded += df.rdd.map(lambda r, s=schema: len(copy_encode_row(r, s)) > 0).count()
                s_pg["cpu_s"] = tr.tree_cpu_s() - pg_cpu
            for df in list(tables.values()) + list(raws.values()):
                df.unpersist()
            shutil.rmtree(shard_dir, ignore_errors=True)
        except Exception:
            self._fail(f"traced load pass {i}")
            return {"cost": meter.read(), "layers": {}}
        self.spark.catalog.clearCache()
        self.outputs.append(out)
        mb_out, n_files = _dir_bytes(out)
        in_mb = os.path.getsize(self.files["releases"]) / MB
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        layers = {
            "spans": {"parse": s_parse["group"], "shred": s_shred["group"]},
            "values": {
                "gzip_shard.s": dur(s_shard),
                "gzip_shard.in_mb_per_s": in_mb / max(dur(s_shard), 1e-9),
                "gzip_shard.shards": len(by_kind["releases"]),
                "xml_source.sniff_s": dur(s_sniff),
                "xml_source.parse_s": dur(s_parse),
                "xml_source.records_per_s": raw_rows / max(dur(s_parse), 1e-9),
                "shred.s": dur(s_shred),
                "shred.dups_dropped": raw_rows - parents,
                "files.write_s": dur(s_files),
                "files.mb": mb_out / MB,
                "files.n_files": n_files,
                "postgres.copy_encode_s": dur(s_pg),
                "postgres.copy_encode_rows_per_s": encoded / max(dur(s_pg), 1e-9),
            },
        }
        # the COPY encode is work load_dumps does not do: keep it out of the
        # cost that trace.overhead compares with an untraced pass
        wall, cpu = meter.read()
        return {"cost": (wall - dur(s_pg), cpu - s_pg["cpu_s"]), "layers": layers}

    def layer_metrics(self, traced: list[dict], attr: dict, events: list) -> dict[str, float]:
        """Per-layer values from the traced passes (median over passes)."""
        per_pass = []
        for p in traced:
            if not p["layers"]:
                continue
            v = dict(p["layers"]["values"])
            parse = attr.get(p["layers"]["spans"]["parse"], {})
            shred_a = attr.get(p["layers"]["spans"]["shred"], {})
            durs = parse.get("durations", [])
            v["xml_source.tasks"] = len(durs)
            v["xml_source.task_skew"] = max(durs) / tr.median(durs) if durs else 0.0
            v["shred.shuffle_mb"] = shred_a.get("shuffle_mb", 0.0)
            v["shred.spill_mb"] = shred_a.get("spill_mb", 0.0)
            per_pass.append(v)
        keys = per_pass[0].keys() if per_pass else []
        return {k: tr.median([v[k] for v in per_pass]) for k in keys}

    def check(self) -> None:
        """Every pass's parquet output against the planted counts/digests."""
        import pyarrow.parquet as pq

        for out in self.outputs:
            for table, exp in self.manifest["expected"].items():
                self.attempted += 1
                try:
                    rows = pq.read_table(os.path.join(out, table)).to_pylist()
                    cols = dumpgen.TABLE_COLUMNS[table]
                    got = dumpgen.table_digest([[r[c] for c in cols] for r in rows])
                    ok = len(rows) == exp["rows"] and got == exp["digest"]
                except Exception:
                    ok = False
                if not ok:
                    self._fail(f"{os.path.basename(out)}/{table} differs from the planted table")
        # keep the last pass's output: it is what a load leaves on disk
        for out in self.outputs[:-1]:
            shutil.rmtree(out, ignore_errors=True)

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        traceback.print_exc(file=sys.stderr)


class QueryMix:
    """``query_mix``: registered batch queries and streaming drains over the
    seeded fixture, each forced through the ``noop`` sink."""

    warmup_passes = 0

    def __init__(self, spark, inputs: str, run_dir: str, spans) -> None:
        from discogs_load_spark.queries import REGISTRY

        self.spark, self.spans = spark, spans
        self.sf = inputs
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        full = {n.split("_")[0]: n for n in REGISTRY}
        self.queries = [(q, REGISTRY[full[q]]) for q in BATCH_QUERIES + STREAM_QUERIES]
        self.results: dict[str, tuple[list, list]] = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.setup_layers: dict[str, float] = {}

    def setup(self) -> None:
        """The artifacts the mix reads, built the way a deployment would
        before serving queries."""
        from discogs_load_spark.queries.sig_index import doc_signature_index
        from discogs_load_spark.queries.streaming import prewarm_stream_sources
        from discogs_load_spark.session import load_tables

        t0 = time.monotonic()
        load_tables(self.spark, self.sf)
        self.setup_layers["session.load_tables_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        _noop(doc_signature_index(self.spark, self.sf, rebuild=True))
        self.setup_layers["index.sig_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        prewarm_stream_sources(self.spark, self.sf)
        self.setup_layers["stream.sources_s"] = time.monotonic() - t0
        self.spark.catalog.clearCache()

    def run_pass(self, i: int, cold: bool = False) -> tuple[float, float]:
        meter = tr.Meter()
        for q, spec in self.queries:
            self.attempted += 1
            try:
                df = spec.fn(self.spark, self.sf)
                if cold:  # the cold pass's rows go to the oracle check
                    self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    _noop(df)
            except Exception:
                self._fail(f"{q} pass {i}")
            self.spark.catalog.clearCache()
        return meter.read()

    def run_traced_pass(self, i: int) -> dict:
        meter = tr.Meter()
        recs = []
        for q, spec in self.queries:
            self.attempted += 1
            with self.spans.span(f"query.{q}") as s:
                try:
                    t0 = time.monotonic()
                    df = spec.fn(self.spark, self.sf)
                    t1 = time.monotonic()
                    _noop(df)
                    s["build_s"], s["run_s"] = t1 - t0, time.monotonic() - t1
                except Exception:
                    self._fail(f"{q} traced pass {i}")
                    s["build_s"] = s["run_s"] = 0.0
            self.spark.catalog.clearCache()
            recs.append((q, s))
        return {"cost": meter.read(), "layers": recs}

    def layer_metrics(self, traced: list[dict], attr: dict, events: list) -> dict[str, float]:
        """Per-layer values from the traced passes (median over passes)."""
        per_pass = []
        for p in traced:
            v: dict[str, float] = {}
            task_s = spill = peak = 0.0
            phases = Counter()
            stream_batches, stream_jobs, state_b = [], 0, 0
            for q, s in p["layers"]:
                a = attr.get(s["group"], {})
                v[f"query.{q}.build_s"] = s["build_s"]
                v[f"query.{q}.run_s"] = s["run_s"]
                v[f"query.{q}.jobs"] = a.get("jobs", 0)
                v[f"query.{q}.driver_gap_s"] = a.get("driver_gap_s", 0.0)
                v[f"query.{q}.shuffle_mb"] = a.get("shuffle_mb", 0.0)
                task_s += a.get("task_s", 0.0)
                spill += a.get("spill_mb", 0.0)
                peak = max(peak, a.get("peak_exec_mb", 0.0))
                batches = tr.batches_in(events, s["start"], s["end"])
                if batches or q in STREAM_QUERIES:
                    lat = [b["duration_ms"].get("triggerExecution", 0) / 1000 for b in batches]
                    v[f"stream.{q}.batches"] = len(batches)
                    v[f"stream.{q}.batch_p50_s"] = tr.median(lat)
                    stream_batches += lat
                    stream_jobs += a.get("jobs", 0)
                    for b in batches:
                        phases.update(b["duration_ms"])
                        state_b = max(state_b, b["state_b"])
            v["query.task_s"], v["query.spill_mb"], v["query.peak_exec_mb"] = task_s, spill, peak
            for phase in STREAM_PHASES:
                v[f"stream.{phase}_s"] = phases.get(phase, 0) / 1000
            v["stream.jobs_per_batch"] = stream_jobs / max(1, len(stream_batches))
            v["stream.state_mb"] = state_b / MB
            v["stream.batch_p50_s"] = tr.median(stream_batches)
            v["stream.batch_p90_s"] = tr.quantile(stream_batches, 0.9)
            per_pass.append(v)
        keys = per_pass[0].keys() if per_pass else []
        return {k: tr.median([v[k] for v in per_pass]) for k in keys}

    def check(self) -> None:
        """Each query's cold-pass rows against its DuckDB oracle."""
        import duckdb

        for q, spec in self.queries:
            if q not in self.results:
                continue
            self.attempted += 1
            cols, rows = self.results[q]
            try:
                guard = spec.oracle_guard(self.spark, self.sf) if spec.oracle_guard else None
                if spec.oracle is None or guard:
                    if not rows:  # rows-only check: the query must still produce rows
                        self._fail(f"{q} returned no rows")
                    continue
                con = duckdb.connect()
                con.execute("SET threads=2")
                for t in self.manifest["rows"]:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(self.sf, t + '.parquet')}')")
                res = con.execute(spec.oracle)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                con.close()
            except Exception:
                self._fail(f"{q} oracle raised")
                continue
            if not _same_result(cols, rows, dcols, drows):
                self._fail(f"{q} differs from its oracle")

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        traceback.print_exc(file=sys.stderr)


# _norm_cell and _norm_rows are copies of the normalizer in
# tests/test_oracle_parity.py, a test module that imports pytest and the
# test suite's conftest, so the benchmark does not import it. Keep the two
# identical.
def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def _same_result(scols, srows, dcols, drows) -> bool:
    """Same column names and the same multiset of normalized rows."""
    return (sorted(scols) == sorted(dcols)
            and _norm_rows(scols, srows) == _norm_rows(dcols, drows))


# The query mix. Each entry serves an open ROADMAP item; see BENCHMARK.json.
BATCH_QUERIES = ["q01", "q89"]
STREAM_QUERIES = ["q218", "q115"]
STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t_proc = float(os.environ["PERFBENCH_T0"])

    from discogs_load_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # compiler threads stay alive so tracing.tree_cpu_s can leave them out
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    log_dir = os.path.join(args.run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    session_start = time.monotonic() - t0
    spans = tr.Spans(spark)
    listener = None
    if args.workload == "ingest_dumps":
        wl = Ingest(spark, args.inputs, args.run_dir, spans)
    else:
        if args.trace:
            listener = tr.make_progress_listener(spark)
        wl = QueryMix(spark, args.inputs, args.run_dir, spans)
    try:
        wl.setup()
        setup = (time.time() - t_proc, tr.tree_cpu_s())
        cold = wl.run_pass(0, cold=True)
        for i in range(wl.warmup_passes):  # untimed: let the JIT settle
            wl.run_pass(-1 - i)
        passes, traced = [], []
        deadline = time.monotonic() + args.seconds
        i = 1
        while True:
            if args.trace and i % 2 == 0:
                traced.append(wl.run_traced_pass(i))
            else:
                passes.append(wl.run_pass(i))
            i += 1
            if time.monotonic() >= deadline and passes and (traced or not args.trace):
                break
        wl.check()
    finally:
        events = []
        if listener is not None:
            events = listener.drain()
            listener.close()  # before stop: a listener outliving py4j fails at exit
        spark.stop()
    layers = {}
    if args.trace:  # the event log is complete once the session has stopped
        attr = tr.attribute(spans.items, tr.read_event_log(log_dir))
        layers = {"session.start_s": session_start, **wl.setup_layers,
                  **wl.layer_metrics(traced, attr, events)}
        layers["trace.overhead"] = (tr.median([p["cost"][1] for p in traced])
                                    / tr.median([c for _, c in passes]))
    result = {
        "setup": setup,
        "cold_pass": cold,
        "passes": passes,
        "records": getattr(wl, "records", None),  # ingest only
        "attempted": wl.attempted,
        "failed": wl.failed,
        "failures": wl.failures,
        "layers": layers,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()

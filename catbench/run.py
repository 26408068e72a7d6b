"""Catalog benchmark: cone search beside appends, and ingest plus kNN
cross-match, on a seeded synthetic sky.

    python3 catbench/run.py --workload cone_append --seed 1 --seconds 30 --trace 0

Run it from the repository root.  ``--trace 1`` wraps the engine's
public entry points (see ``tracing.py``) and reports per-layer figures in
place of the end-to-end ones.  ``--scale smoke`` shrinks every input for
a quick functional check.

Workloads, each one closed-loop client on ``local[nproc]``:

cone_append
    A standing catalog serves cone searches; the client appends a batch
    of fresh sources from the same sky mix, then runs
    ``cones_per_append`` cones, and repeats.  Each cone is a stateless
    request: ``Catalog.load`` + ``cone_search`` + one action returning
    the count and the sum of ids.  The appends rewrite the catalog the
    cones read, so anything cached on the read side has to stay correct,
    and the cone oracle counts the appended rows.
ingest_xmatch
    A survey release: ``partition_catalog`` ingests the sky from Parquet
    files (margins on), then the new catalog is cross-matched (k=1) against
    a reference catalog built in set-up, repeatedly until time is up.

"Read" metrics are cones on ``cone_append`` and cross-match actions on
``ingest_xmatch``; "write" metrics are appends and ingests.  Every result
is checked against a NumPy oracle (``oracle.py``); a mismatch or an
exception counts as a failed operation.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The line before it names
the figures by path (``cone_p50_ms``, ``ingest_rows_per_s``, ...) and
carries the run context; the full record, spans included, is written
to ``.catbench_out/`` in the working directory.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
import oracle  # noqa: E402
import sky  # noqa: E402
from tracing import NullTracer, Tracer, scan_files  # noqa: E402


@dataclass(frozen=True)
class Scale:
    rows: int  # sources in the sky
    threshold: int  # partition_catalog row threshold per leaf cell
    order_k: int
    input_files: int
    right_rows: int  # reference catalog rows for the cross-match
    append_rows: int
    cones_per_append: int


SCALES = {
    # 129 leaf cells over orders 1-7; the four clusters force the deep ones
    "full": Scale(100_000, 2_000, 7, 8, 25_000, 500, 16),
    "smoke": Scale(20_000, 1_000, 5, 4, 5_000, 200, 3),
}
# reference catalog: this share of rows are copies of sky rows moved by
# JITTER_DEG per axis, the rest isotropic; cross-match radius DTHRESH_DEG
MATCHED_SHARE, JITTER_DEG, DTHRESH_DEG = 0.8, 0.7 / 3600, 0.001
CONE_R_MIN, CONE_R_MAX = 0.05, 5.0
CLUSTER_CONE_SHARE = 1 / 3
WARMUP_CONES = 1


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile as ``statistics.quantiles`` cuts it; NaN when
    every operation of the kind failed."""
    if not values:
        return float("nan")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    """State shared by one workload run: session, paths, tracer, ops."""

    def __init__(self, spark, work: str, scale: Scale, seed: int):
        self.spark = spark
        self.work = work
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        self.tracer: NullTracer = NullTracer()  # a Tracer in traced runs, once set up
        self.ops: list[dict] = []  # kind, seconds, ok, plus per-kind facts

    def record(self, kind: str, fn, check, **facts) -> None:
        """Time ``fn`` as one operation and check its output; a raised
        exception or a failed check marks the operation failed."""
        op = {"kind": kind, "ok": False, **facts}
        self.ops.append(op)
        try:
            with self.tracer.op(kind):
                t0 = time.perf_counter()
                out = fn()
                op["seconds"] = time.perf_counter() - t0
            op["ok"] = bool(check(out, op))
        except Exception:  # one failed operation must not end the run
            op["error"] = traceback.format_exc(limit=3)
            op.setdefault("seconds", float("nan"))


# -- cone_append ----------------------------------------------------------


def cone_centres(rng: np.random.Generator, n: int) -> list[tuple[float, float, float]]:
    """``n`` cones, stratified so that every batch has the same mix: a
    third of the centres inside clusters, radii one log-uniform draw
    from each of ``n`` equal strata of [CONE_R_MIN, CONE_R_MAX], in a
    random order.  The seed moves the cones, not the mix."""
    in_cluster = rng.permutation(n) < round(n * CLUSTER_CONE_SHARE)
    ra_i, dec_i = sky.isotropic(rng, n)
    ra_c, dec_c = sky.clustered(rng, n)
    ra = np.where(in_cluster, ra_c, ra_i)
    dec = np.where(in_cluster, dec_c, dec_i)
    u = rng.permutation((np.arange(n) + rng.random(n)) / n)
    r = np.exp(np.log(CONE_R_MIN) + u * np.log(CONE_R_MAX / CONE_R_MIN))
    return list(zip(ra.tolist(), dec.tolist(), r.tolist()))


class ConeAppend:
    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        from lsd2_spark import catalog

        r, s = self.run, self.run.scale
        t = sky.sources(r.rng, s.rows, 0)
        self.input_bytes = sky.write_parts(t, f"{r.work}/in", s.input_files)
        self.next_sid = s.rows
        self.oracle = oracle.ConeOracle(
            t.column("sid").to_numpy(), t.column("ra").to_numpy(), t.column("dec").to_numpy()
        )
        self.path = f"{r.work}/standing"
        # cone search never reads the margin dataset and the cross-match
        # builds its halos at query time, so the served catalog has none
        catalog.partition_catalog(
            r.spark.read.parquet(f"{r.work}/in"), self.path, "standing", id_col="sid",
            threshold=s.threshold, order_k=s.order_k, write_margins=False,
        )
        for ra, dec, rad in cone_centres(r.rng, WARMUP_CONES):
            self._cone(ra, dec, rad)

    def _cone(self, ra: float, dec: float, rad: float):
        from lsd2_spark import catalog
        from pyspark.sql import functions as F

        cat = catalog.Catalog.load(self.run.spark, self.path)
        q = cat.cone_search(ra, dec, rad).agg(F.count("*"), F.sum("sid"))
        with self.run.tracer.span("cone.exec"):
            row = q.collect()[0]
        return (int(row[0]), int(row[1] or 0)), q

    def measure(self, seconds: float) -> None:
        r, s = self.run, self.run.scale
        t_end = time.perf_counter() + seconds
        while True:
            # the append comes first, so every measured cone reads a
            # catalog that a write has just changed
            self._append()
            for ra, dec, rad in cone_centres(r.rng, s.cones_per_append):
                ids = self.oracle.cone_ids(ra, dec, rad)
                want = (len(ids), int(ids.sum()))

                def check(out, op, want=want):
                    op["rows"] = out[0][0]
                    if r.tracer.enabled:
                        op["files_scanned"] = scan_files(out[1])
                    return out[0] == want

                # appended_rows: rows of the answer that only an append put
                # there, so a read path blind to writes fails this cone
                r.record("cone", lambda: self._cone(ra, dec, rad), check,
                         appended_rows=int((ids >= s.rows).sum()))
            if time.perf_counter() >= t_end:
                return

    def _append(self) -> None:
        from lsd2_spark import catalog

        r, s = self.run, self.run.scale
        batch = sky.sources(r.rng, s.append_rows, self.next_sid)
        self.next_sid += s.append_rows
        buf = io.BytesIO()
        pq.write_table(batch, buf)
        bdf = r.spark.createDataFrame(batch.to_pandas())
        before = host.census(self.path)

        def append():
            catalog.Catalog.load(r.spark, self.path).append(bdf)

        def check(_, op):
            from pyspark.sql import functions as F

            op.update(host.diff(before, host.census(self.path)))
            self.oracle.add(*(batch.column(c).to_numpy() for c in ("sid", "ra", "dec")))
            got = catalog.Catalog.load(r.spark, self.path).df().agg(
                F.count("*"), F.sum("sid")
            ).collect()[0]
            return (int(got[0]), int(got[1])) == self.oracle.totals()

        r.record("append", append, check, batch_bytes=buf.tell())

    def stored(self) -> tuple[int, int]:
        """(bytes stored by the catalog, bytes of every row it holds as
        input Parquet)."""
        appended = sum(o["batch_bytes"] for o in self.run.ops if o["kind"] == "append")
        return host.total_bytes(host.census(self.path)), self.input_bytes + appended


# -- ingest_xmatch --------------------------------------------------------


class IngestXmatch:
    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        from lsd2_spark import catalog

        r, s = self.run, self.run.scale
        left = sky.sources(r.rng, s.rows, 0)
        self.input_bytes = sky.write_parts(left, f"{r.work}/in", s.input_files)
        right = sky.counterparts(
            r.rng, left, s.right_rows, MATCHED_SHARE, JITTER_DEG, 10 * s.rows
        )
        sky.write_parts(right, f"{r.work}/ref_in", max(1, s.input_files // 2))
        self.right_path = f"{r.work}/reference"
        catalog.partition_catalog(
            r.spark.read.parquet(f"{r.work}/ref_in"), self.right_path, "reference", id_col="sid",
            threshold=s.threshold, order_k=s.order_k, write_margins=False,
        )
        cols = [t.column(c).to_numpy() for t in (left, right) for c in ("sid", "ra", "dec")]
        lid, rid = oracle.nearest_pairs(*cols, DTHRESH_DEG)
        self.want_pairs = (len(lid), oracle.pair_checksum(lid, rid))
        self.totals = (s.rows, int(cols[0].sum()))

    def measure(self, seconds: float) -> None:
        r, s = self.run, self.run.scale
        t_end = time.perf_counter() + seconds
        self.left_path = f"{r.work}/release"
        r.record("ingest", self._ingest, self._check_ingest, rows=s.rows)
        while True:
            r.record(
                "xmatch", self._xmatch, lambda out, op: out == self.want_pairs,
                rows=s.rows, right_rows=s.right_rows,
            )
            if time.perf_counter() >= t_end:
                return

    def _ingest(self):
        from lsd2_spark import catalog

        r, s = self.run, self.run.scale
        return catalog.partition_catalog(
            r.spark.read.parquet(f"{r.work}/in"), self.left_path, "release", id_col="sid",
            threshold=s.threshold, order_k=s.order_k,
        )

    def _check_ingest(self, cat, op) -> bool:
        """Row count and id sum against the generated rows."""
        from pyspark.sql import functions as F

        files = host.census(self.left_path)
        op["files_written"] = len(host.data_files(files))
        op["bytes_written"] = host.total_bytes(files)
        op["margin_bytes"] = host.total_bytes(host.census(f"{self.left_path}/neighbor"))
        got = cat.df().agg(F.count("*"), F.sum("sid")).collect()[0]
        return (int(got[0]), int(got[1])) == self.totals

    def _xmatch(self) -> tuple[int, int]:
        from lsd2_spark import catalog
        from pyspark.sql import functions as F

        spark, s = self.run.spark, self.run.scale
        left = catalog.Catalog.load(spark, self.left_path)
        right = catalog.Catalog.load(spark, self.right_path)
        cols = ["sid", "ra", "dec"]
        m = left.cross_match(right, n_neighbors=1, dthresh=DTHRESH_DEG,
                             columns=cols, other_columns=cols)
        key = (F.col("release_sid") * oracle.PAIR_MUL + F.col("reference_sid")) % oracle.PAIR_MOD
        row = m.agg(F.count("*"), F.sum(key)).collect()[0]
        return int(row[0]), int(row[1] or 0)

    def stored(self) -> tuple[int, int]:
        return host.total_bytes(host.census(self.left_path)), self.input_bytes


WORKLOADS = {"cone_append": ConeAppend, "ingest_xmatch": IngestXmatch}
# (read operation, write operation) of each workload
OPS = {"cone_append": ("cone", "append"), "ingest_xmatch": ("xmatch", "ingest")}


# -- metrics --------------------------------------------------------------


def op_seconds(ops: list[dict], kind: str) -> list[float]:
    """Latencies of the operations that returned, right or wrong."""
    return [o["seconds"] for o in ops if o["kind"] == kind and o["seconds"] == o["seconds"]]


def end_to_end(workload: str, ops: list[dict], setup_s: float, stored) -> dict:
    read, write = OPS[workload]
    rs, ws = op_seconds(ops, read), op_seconds(ops, write)
    return {
        "setup_s": (setup_s, "s"),
        "read_p50_ms": (1e3 * percentile(rs, 50), "ms"),
        "read_p90_ms": (1e3 * percentile(rs, 90), "ms"),
        "write_p50_s": (percentile(ws, 50), "s"),
        "stored_bytes_per_input_byte": (stored[0] / stored[1], "ratio"),
    }


def by_path(workload: str, ops: list[dict], e2e: dict, rows: int, memory: tuple) -> dict:
    """The same figures under the names of the path they time."""
    failed = sum(not o["ok"] for o in ops)
    out = {"failed_ops_frac": (failed / len(ops), "ratio"), "peak_pss_mb": memory}
    for k in ("setup_s", "stored_bytes_per_input_byte"):
        out[k] = e2e[k]
    if workload == "cone_append":
        out["cone_p50_ms"] = e2e["read_p50_ms"]
        out["cone_p90_ms"] = e2e["read_p90_ms"]
        out["append_p50_s"] = e2e["write_p50_s"]
    else:
        out["ingest_rows_per_s"] = (rows / e2e["write_p50_s"][0], "1/s")
        out["xmatch_rows_per_s"] = (rows / (e2e["read_p50_ms"][0] / 1e3), "1/s")
    return out


def with_units(metrics: dict) -> dict:
    """JSON-ready metrics; a value that could not be measured (NaN) is
    written as null."""
    return {
        k: {"value": v if v == v else None, "unit": u} for k, (v, u) in metrics.items()
    }


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tr: Tracer, workload: str, ops: list[dict], measured_s: float) -> dict:
    """Per-layer figures from the spans and the Spark status store.  A
    layer the workload never calls reads 0."""
    read, write = OPS[workload]
    traced = [(o, t) for o, t in zip(ops, tr.ops) if o["ok"]]
    ms = 1e3

    spans = tr.within

    def span_sum(op, name):
        return sum(s.dur for s in spans(op, name))

    cones = [(o, t) for o, t in traced if o["kind"] == "cone"]
    appends = [(o, t) for o, t in traced if o["kind"] == "append"]
    ingests = [(o, t) for o, t in traced if o["kind"] == "ingest"]
    xmatches = [(o, t) for o, t in traced if o["kind"] == "xmatch"]
    tasks = {t.oid: tr.tasks(t) for _, t in traced}

    def all_tasks(t):
        return [x for stage in tasks[t.oid].values() for x in stage]

    m: dict[str, tuple[float, str]] = {}
    m["healpix.cone_cover_ms"] = (median(ms * span_sum(t, "healpix.cone_cover") for _, t in cones), "ms")
    m["catalog.load_ms"] = (median(ms * span_sum(t, "catalog.load") for _, t in cones), "ms")
    m["catalog.df_ms"] = (median(ms * span_sum(t, "catalog.df") for _, t in cones), "ms")
    m["catalog.df_spark_jobs"] = (
        median(len(tr.jobs(t, [g for g in t.groups if g.endswith(":df")])) for _, t in cones), "count",
    )
    m["catalog.prune_ms"] = (median(ms * span_sum(t, "catalog.prune") for _, t in cones), "ms")
    m["catalog.cells_hit"] = (
        median(sum(s.info["cells_hit"] for s in spans(t, "catalog.prune")) for _, t in cones), "count",
    )
    m["cone.exec_ms"] = (median(ms * span_sum(t, "cone.exec") for _, t in cones), "ms")
    m["cone.spark_jobs"] = (median(len(tr.jobs(t)) for _, t in cones), "count")
    m["cone.files_scanned"] = (median(o["files_scanned"] for o, _ in cones), "count")
    scanned = sum(x["input_records"] for _, t in cones for x in all_tasks(t))
    returned = sum(o["rows"] for o, _ in cones)
    m["cone.rows_scanned_per_row_returned"] = (scanned / returned if returned else 0.0, "ratio")

    m["append.cells_touched"] = (median(o["cells_touched"] for o, _ in appends), "count")
    m["append.files_rewritten"] = (median(o["files_rewritten"] for o, _ in appends), "count")
    batch = sum(o["batch_bytes"] for o, _ in appends)
    m["append.bytes_written_per_byte_appended"] = (
        sum(o["bytes_written"] for o, _ in appends) / batch if batch else 0.0, "ratio",
    )
    m["append.shuffle_write_bytes"] = (
        median(sum(x["shuffle_write_bytes"] for x in all_tasks(t)) for _, t in appends), "bytes",
    )

    def ingest_span(t):
        return spans(t, "catalog.partition_catalog")[0]

    m["ingest.self_s"] = (median(tr.self_time(ingest_span(t)) for _, t in ingests), "s")
    # records, not bytes: a scan feeding a Python UDF is read on the
    # Arrow writer thread, whose file-system bytes the task never sees
    m["ingest.input_scans"] = (
        median(sum(x["input_records"] for x in all_tasks(t)) / o["rows"] for o, t in ingests),
        "ratio",
    )
    m["ingest.shuffle_write_bytes"] = (
        median(sum(x["shuffle_write_bytes"] for x in all_tasks(t)) for _, t in ingests), "bytes",
    )
    m["ingest.tasks"] = (median(len(all_tasks(t)) for _, t in ingests), "count")
    m["ingest.files_written"] = (median(o["files_written"] for o, _ in ingests), "count")
    m["ingest.bytes_written"] = (median(o["bytes_written"] for o, _ in ingests), "bytes")
    m["plans.partition_map_ms"] = (
        median(ms * span_sum(t, "plans.partition_map") for _, t in ingests), "ms",
    )
    m["plans.xmatch_cells_ms"] = (
        median(ms * span_sum(t, "plans.xmatch_cells") for _, t in xmatches), "ms",
    )
    m["plans.xmatch_cells"] = (
        median(sum(s.info["cells"] for s in spans(t, "plans.xmatch_cells")) for _, t in xmatches),
        "count",
    )
    m["margins.write_s"] = (median(span_sum(t, "margins.write") for _, t in ingests), "s")
    m["margins.bytes_written"] = (median(o["margin_bytes"] for o, _ in ingests), "bytes")

    def kernel_stage(t):
        """The stage reading the most shuffle records: the cogroup that
        feeds the kNN kernel."""
        stages = [s for s in tasks[t.oid].values() if s]
        return max(stages, key=lambda s: sum(x["shuffle_read_records"] for x in s))

    def skew(stage):
        run = [x["run_s"] for x in stage]
        return max(run) / max(statistics.median(run), 1e-3)

    m["crossmatch.shuffle_records_per_input_row"] = (
        median(
            sum(x["shuffle_write_records"] for x in all_tasks(t)) / (o["rows"] + o["right_rows"])
            for o, t in xmatches
        ),
        "ratio",
    )
    m["crossmatch.kernel_stage_s"] = (
        median(
            max(x["end"] for x in kernel_stage(t)) - min(x["start"] for x in kernel_stage(t))
            for _, t in xmatches
        ),
        "s",
    )
    m["crossmatch.kernel_task_skew"] = (median(skew(kernel_stage(t)) for _, t in xmatches), "ratio")
    m["crossmatch.tasks"] = (median(len(all_tasks(t)) for _, t in xmatches), "count")

    # tracing cost: the tracer's own bookkeeping, and the traced latencies
    # to hold against read_p50_ms / write_p50_s of an untraced run
    m["trace.overhead_pct"] = (100.0 * tr.bookkeeping_s / measured_s, "%")
    m["trace.read_p50_ms"] = (1e3 * percentile(op_seconds(ops, read), 50), "ms")
    m["trace.write_p50_s"] = (percentile(op_seconds(ops, write), 50), "s")
    return m


# -- entry point ---------------------------------------------------------


def start_spark(work: str):
    """A session on ``local[nproc]`` whose scratch space lives in ``work``."""
    nproc = len(os.sched_getaffinity(0))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection-info file goes here
    from lsd2_spark.session import get_spark

    spark = get_spark(
        app_name="catbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM's Python workers notice it is gone and exit on their own
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark worker processes outlived the session")
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args(argv)

    import lsd2_spark  # noqa: F401  fail before any output when the engine is missing

    context = host.run_context(args.seed)
    context.update(workload=args.workload, trace=args.trace, scale=args.scale)
    cwd = os.getcwd()
    work = os.path.join(cwd, ".catbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    scale = SCALES[args.scale]
    try:
        with host.PeakMemory() as mem:
            t0 = time.perf_counter()
            spark = start_spark(work)
            context["spark_start_s"] = time.perf_counter() - t0
            try:
                run = Run(spark, work, scale, args.seed)
                w = WORKLOADS[args.workload](run)
                t0 = time.perf_counter()
                w.setup()
                setup_s = time.perf_counter() - t0
                if args.trace:
                    run.tracer = Tracer(spark)
                run.tracer.install()
                t1 = time.perf_counter()
                w.measure(args.seconds)
                measured_s = time.perf_counter() - t1
                run.tracer.uninstall()
                stored = w.stored()
                layers = (
                    per_layer(run.tracer, args.workload, run.ops, measured_s)
                    if args.trace else None
                )
            finally:
                t0 = time.perf_counter()
                stop_spark(spark)
                context["teardown_s"] = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = run.ops
    e2e = end_to_end(args.workload, ops, setup_s, stored)
    # a per-layer figure, not an end-to-end one: under the engine's default
    # 8g driver heap the JVM's footprint depends on when G1 grows the heap,
    # and the peak is bimodal across seeds (see README.md)
    memory = (mem.peak / 2**20, "MB")
    named = by_path(args.workload, ops, e2e, scale.rows, memory)
    if args.trace:
        layers["peak_pss_mb"] = memory
    context["loadavg_end"] = os.getloadavg()
    context["measured_s"] = measured_s
    context["ops"] = {k: sum(o["kind"] == k for o in ops) for k in OPS[args.workload]}
    if args.workload == "cone_append":
        context["cones_with_appended_rows"] = sum(o.get("appended_rows", 0) > 0 for o in ops)
    metrics = layers if args.trace else e2e
    failed = sum(not o["ok"] for o in ops)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": with_units(metrics),
    }
    out_dir = os.path.join(cwd, ".catbench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {"context": context, "by_path": with_units(named), "result": result, "ops": ops}
    if args.trace:
        detail["spans"] = [vars(s) for s in run.tracer.spans]
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(detail, f, default=str)
    print(json.dumps({"context": context, "by_path": with_units(named)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

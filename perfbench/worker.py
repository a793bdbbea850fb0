"""One benchmark measurement in one Spark process.

Started by ``run.py`` with the run's environment already set
(``SPARK_GRAFT_CPUS`` before the package is imported, ``PYTHONPATH``,
scratch dirs). Usage: ``worker.py SPEC_JSON RESULT_JSON``. The spec
names the workload, the seed, the run length, the trace flag and the
inputs; the result holds raw samples and checks, from which
``run.py`` computes the metrics.

Phases, the same for every workload:
1. setup: Spark session start, then first touch of every input table;
2. cold pass: the workload's work once, in the new session; then the
   memory reading (``_memory_mb``, which forces one full collection);
3. warm loop: closed loop, one client, in whole passes over the
   workload's operations, for the run length and at least
   ``MIN_WARM[workload]`` operations;
4. output checks (untimed);
5. untraced runs only: ``RESETUPS`` more setups (session restart plus
   first touch) for the ``setup_s`` median.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from inputs import MART_MIX, WAREHOUSE_TABLES  # noqa: E402
from spans import Tracer, find_event_log, instrument, layer_report, read_event_log  # noqa: E402

T0 = time.perf_counter()
# 3 passes of the 16 queries and 3 of the 8 checks: as much warm work
# as the benchmark's time budget leaves room for on a host that runs at
# half speed (see README.md)
MIN_WARM = {"mart_analytics": 48, "news_ingest": 24}
# session restarts after the cold setup; setup_s is the median of all
RESETUPS = 2

NEWS_TABLES = ["link_pages", "articles"]
RUN_TS = "2024-06-01 00:00:00"


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _heap_rss_kb(pid: int) -> int:
    """Resident kB of the Java heap: the JVM's largest private read-write
    anonymous mapping (the fixed-size heap is reserved in one piece)."""
    best_size, best_rss, size, anon_rw = 0, 0, 0, False
    with open(f"/proc/{pid}/smaps") as fh:
        for line in fh:
            parts = line.split()
            if not parts[0].endswith(":"):  # address perms offset dev inode [path]
                anon_rw = parts[1] == "rw-p" and len(parts) == 5
            elif anon_rw and parts[0] == "Size:":
                size = int(parts[1])
            elif anon_rw and parts[0] == "Rss:" and size > best_size:
                best_size, best_rss = size, int(parts[1])
    return best_rss


def _memory_mb(spark) -> dict[str, float]:
    """Memory of the driver Python and its JVM after setup and the cold
    pass (a fixed amount of work, unlike the warm loop), in MB.

    The heap has a fixed size and ends up resident whatever the program
    does, so ``peak_rss_mb`` counts, in place of the heap's resident
    pages, the heap's live size: heap in use right after a full
    collection (the caches and results the program still holds). Python
    and off-heap JVM memory count at their peak so far."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    heap_live = mx.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)
    jvms = _jvm_pids()
    python = _vm_hwm_kb("self") / 1024.0
    jvm = sum(_vm_hwm_kb(p) for p in jvms) / 1024.0
    heap_rss = sum(_heap_rss_kb(p) for p in jvms) / 1024.0
    return {
        "python_hwm_mb": python,
        "jvm_hwm_mb": jvm,
        "jvm_heap_rss_mb": heap_rss,
        "jvm_heap_live_mb": heap_live,
        "peak_rss_mb": python + jvm - heap_rss + heap_live,
    }


def _jvm_pids() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[1]) == me and "java" in stat.split(")", 1)[0]:
            out.append(int(d))
    return out


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.tracer = Tracer(bool(spec["trace"]))
        self.rng = random.Random(spec["seed"])
        self.spark = None
        self.tables: dict = {}
        self.setup_s: list[float] = []
        self.warm_lat: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.extra_trace: dict = {}

    # --- bookkeeping -----------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    # --- setup -----------------------------------------------------------

    def setup(self) -> None:
        from canadiannewsdatapipeline_spark.session import get_spark
        from canadiannewsdatapipeline_spark.sources.registry import load_table

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        self.tracer.bind(self.spark.sparkContext)
        with self.tracer.span("sources.first_touch"):
            src = self.spec["input_dir"]
            names = WAREHOUSE_TABLES if self.spec["workload"] == "mart_analytics" else NEWS_TABLES
            self.tables = {t: load_table(self.spark, src, t) for t in names}
            if self.spec["workload"] == "news_ingest":
                import pyarrow.parquet as pq

                art = pq.read_table(os.path.join(src, "articles.parquet")).to_pydict()
                self.pages = dict(zip(art["url"], art["html"]))
        self.setup_s.append(time.perf_counter() - t0)

    def resetup(self) -> None:
        self.spark.stop()
        self.setup()

    # --- one timed operation ----------------------------------------------

    def _timed(self, span: str, build, action, sink: list, name: str = ""):
        """Build + action of one operation, timed into ``sink``; returns
        the action's output, or None on failure (counted as failed)."""
        name = name or span
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span) as rec:
                if self.tracer.enabled and span == "queries.build":
                    from canadiannewsdatapipeline_spark.queries.registry import (
                        is_plan_cached,
                    )

                    rec["plan_cache_hit"] = is_plan_cached(
                        self.spark, name, self.spec["input_dir"]
                    )
                df = build()
            with self.tracer.span("exec.action"):
                out = action(df)
        except Exception as exc:  # one failed operation must not end the run
            self.fail(f"{name}: {type(exc).__name__}: {exc}"[:500])
            return None
        sink.append(time.perf_counter() - t0)
        self.tracer.record_catalyst(df)
        return out

    # --- mart_analytics ---------------------------------------------------

    def mart(self) -> None:
        from canadiannewsdatapipeline_spark.queries import QUERIES

        sf = self.spec["input_dir"]
        order = list(MART_MIX)
        self.rng.shuffle(order)
        cold_rows: dict[str, list] = {}
        t0 = time.perf_counter()
        for name in order:
            rows = self._timed(
                "queries.build", lambda n=name: QUERIES[n].fn(self.spark, sf),
                _collect, [], name,
            )
            if rows is not None:
                cold_rows[name] = rows
        self.cold_pass_s = time.perf_counter() - t0
        self.cold_wall_s = time.perf_counter() - T0
        self.memory = _memory_mb(self.spark)
        counts = {n: len(r[1]) for n, r in cold_rows.items()}

        def one_pass() -> None:
            self.rng.shuffle(order)
            for name in order:
                rows = self._timed(
                    "queries.build", lambda n=name: QUERIES[n].fn(self.spark, sf),
                    _collect, self.warm_lat, name,
                )
                if rows is not None and name in counts and len(rows[1]) != counts[name]:
                    self.fail(f"{name}: warm row count {len(rows[1])} != {counts[name]}")

        self._warm_loop(one_pass, len(order))
        self.cold_rows = cold_rows

    def _warm_loop(self, one_pass, ops_per_pass: int) -> None:
        """Whole passes only, so every operation has the same weight in
        the latency percentiles."""
        deadline = time.perf_counter() + self.spec["seconds"]
        ops = 0
        while ops < MIN_WARM[self.spec["workload"]] or time.perf_counter() < deadline:
            one_pass()
            ops += ops_per_pass

    def mart_checks(self) -> None:
        with open(self.spec["expected"]) as fh:
            expected = json.load(fh)
        for name in MART_MIX:
            self.attempted += 1
            if name not in self.cold_rows:
                continue  # already counted as failed
            cols, rows = self.cold_rows[name]
            why = checks.compare(cols, rows, expected[name])
            if why:
                self.fail(f"{name}: {why}")

    # --- news_ingest ------------------------------------------------------

    def _quality_checks(self, marts: dict):
        from canadiannewsdatapipeline_spark.operators.quality import (
            not_null_violations,
            relationship_violations,
            unique_violations,
        )

        arts, auths = marts["articles"], marts["authors"]
        srcs, bridge = marts["sources"], marts["article_author_join_table"]
        return [
            ("articles_unique", lambda: unique_violations(arts, ["article_id"])),
            ("articles_not_null", lambda: not_null_violations(arts, "article_id")),
            ("authors_unique", lambda: unique_violations(auths, ["author_id"])),
            ("authors_not_null", lambda: not_null_violations(auths, "author_id")),
            ("sources_unique", lambda: unique_violations(srcs, ["source_id"])),
            ("bridge_unique", lambda: unique_violations(bridge, ["article_author_id"])),
            ("bridge_article_fk", lambda: relationship_violations(
                bridge, "article_id", arts, "article_id")),
            ("bridge_author_fk", lambda: relationship_violations(
                bridge, "author_id", auths, "author_id")),
        ]

    def _check_pass(self, marts: dict, sink: list) -> None:
        with self.tracer.span("operators.quality_checks"):
            for name, build in self._quality_checks(marts):
                n = self._timed(
                    "operators.quality_build", build, lambda df: df.count(), sink, name
                )
                if n is not None and n != 0:
                    self.fail(f"quality {name}: {n} violations")

    def ingest(self) -> None:
        from pyspark.sql import functions as F

        from canadiannewsdatapipeline_spark.plans.pipeline import run_ingestion
        from canadiannewsdatapipeline_spark.sources.scrape import (
            FixtureFetcher,
            fixture_parser,
        )

        out_dir = self.spec["output_dir"]
        shutil.rmtree(out_dir, ignore_errors=True)
        links = self.tables["link_pages"]
        per_source = {
            s: links.filter(F.col("source") == s) for s in self.spec["sources"]
        }
        self.tracer.materialize_scrape = True
        t0 = time.perf_counter()
        self.attempted += 1
        # a failed DAG leaves nothing to measure or check: the run fails
        marts = run_ingestion(
            self.spark,
            per_source,
            FixtureFetcher(self.pages),
            fixture_parser,
            run_ts=RUN_TS,
            warehouse_dir=out_dir,
            n_articles=self.spec["pages_per_source"],
        )
        self._check_pass(marts, [])
        self.cold_pass_s = time.perf_counter() - t0
        self.cold_wall_s = time.perf_counter() - T0
        self.memory = _memory_mb(self.spark)
        self.tracer.materialize_scrape = False
        self._warm_loop(
            lambda: self._check_pass(marts, self.warm_lat), len(self._quality_checks(marts))
        )
        self.marts = marts

    def ingest_checks(self) -> None:
        expected = self.spec["expected"]
        for name, want in expected.items():
            self.attempted += 1
            got = self.marts[name].count()
            if got != want:
                self.fail(f"{name}: {got} rows, expected {want}")
        files, nbytes = 0, 0
        for dirpath, _, fnames in os.walk(self.spec["output_dir"]):
            for f in fnames:
                if f.startswith("part-"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        self.extra_trace["plans.files_written"] = float(files)
        self.extra_trace["plans.bytes_written_mb"] = nbytes / (1024.0 * 1024.0)

    # --- one run ----------------------------------------------------------

    def run(self) -> dict:
        wl = self.spec["workload"]
        # module imports are process start, not part of any timed phase
        import canadiannewsdatapipeline_spark.plans.pipeline  # noqa: F401
        import canadiannewsdatapipeline_spark.queries  # noqa: F401

        if self.tracer.enabled:
            instrument(self.tracer)
        phases = {"imports": time.perf_counter() - T0}
        with self.tracer.span("run"):
            self.setup()
            app_id = self.spark.sparkContext.applicationId
            phases["setup"] = self.setup_s[0]
            t = time.perf_counter()
            if wl == "mart_analytics":
                self.mart()
            else:
                self.ingest()
            phases["cold+warm"] = time.perf_counter() - t
        t = time.perf_counter()
        if wl == "mart_analytics":
            self.mart_checks()
        else:
            self.ingest_checks()
        phases["checks"] = time.perf_counter() - t
        layers = None
        if self.tracer.enabled:
            self.spark.stop()  # flushes the event log
            groups = read_event_log(find_event_log(self.spec["event_log_dir"], app_id))
            self.tracer.dump(os.path.join(self.spec["work_dir"], "spans.json"))
            layers = layer_report(
                self.tracer.spans,
                groups,
                self.tracer.catalyst_ms,
                int(os.environ["SPARK_GRAFT_CPUS"]),
                self.extra_trace,
            )
        else:  # setup_s is an end-to-end metric: untraced runs only
            t = time.perf_counter()
            for _ in range(RESETUPS):
                self.resetup()
            phases["resetups"] = time.perf_counter() - t
        return {
            "phase_s": phases,
            "setup_s": self.setup_s,
            "cold_pass_s": self.cold_pass_s,
            "cold_wall_s": self.cold_wall_s,
            "warm_lat_s": self.warm_lat,
            "memory_mb": self.memory,
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures[:20],
            "layers": layers,
        }


def _collect(df):
    rows = df.collect()
    return [c.lower() for c in df.columns], [tuple(r) for r in rows]


def main() -> int:
    spec_path, result_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as fh:
        spec = json.load(fh)
    result = Run(spec).run()
    with open(result_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

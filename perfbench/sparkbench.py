"""The Spark workload ``webtext_bigrams``, its session and its traced
variant.

Each iteration is one closed-loop batch job: the client waits for the
result, checks it, and only then submits the next job.  ``cqf_spark`` and
``pyspark`` are imported inside ``set_up``, whose CPU time they belong to.
"""

from __future__ import annotations

import math
import os
import subprocess
from typing import Any

import numpy as np

from perfbench import inputs as gen
from perfbench import procstat
from perfbench.common import (
    TRACED_ITERATION, Iteration, Meter, R_BITS, fp_error, iteration_seed)

# iteration index of the first r = 8 record sketch, for its hash seed
FP_SKETCH = TRACED_ITERATION + 1
# hash seeds of the r = 8 record
FP_SEEDS = 3


def _warm_partition(batches: Any) -> Any:
    """Runs in each Python worker once during set-up: the worker's fork and
    its import of cqf_spark are part of what a user pays before the first
    job."""
    import pandas as pd

    import cqf_spark.aggregator  # noqa: F401

    yield pd.DataFrame({"n": [sum(len(b) for b in batches)]})


class Session:
    """The Spark session and the JVM behind it; ``close`` stops both and
    waits for every process the benchmark started."""

    def __init__(self, run_dir: str, cores: int, event_log: str | None) -> None:
        self.run_dir = run_dir
        self.cores = cores
        self.event_log = event_log
        self.spark: Any = None

    def start(self) -> Any:
        from pyspark.sql import SparkSession

        d = self.run_dir
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.default.parallelism", str(self.cores))
            # a small fixed heap: with 2 GB the JVM's RSS wandered by 14-19%
            # between runs as the heap grew to different sizes
            .config("spark.driver.memory", "768m")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={d}/tmp -XX:-UsePerfData -Xms768m "
                    # compiler threads that come and go would take their
                    # CPU out of the per-thread JIT figure when they exit
                    "-XX:-UseDynamicNumberOfCompilerThreads")
            .config("spark.local.dir", f"{d}/spark-local")
            .config("spark.sql.warehouse.dir", f"{d}/warehouse")
            .config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
            # one split per input file: a workload's file count is its
            # build's partition count
            .config("spark.sql.files.openCostInBytes", str(128 << 20))
            .config("spark.eventLog.enabled", str(bool(self.event_log)).lower())
        )
        if self.event_log:
            b = (b.config("spark.eventLog.dir", self.event_log)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_workers(self) -> None:
        from pyspark.sql import functions as F

        self.spark.range(0, 1000 * self.cores, numPartitions=self.cores) \
            .mapInPandas(_warm_partition, "n long").agg(F.sum("n")).collect()

    def close(self, exclude: set[int]) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        started = [p for p in procstat.descendants(os.getpid()) if p not in exclude]
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        procstat.reap(started)


class WebtextBigrams:
    """The registered ``webtext_bigram_multiplicity`` query on generated
    documents, checked against its registered DuckDB oracle."""

    name = "webtext_bigrams"
    query_name = "webtext_bigram_multiplicity"
    uses_spark = True
    # measured iterations run for --seconds, and at least this many: an
    # iteration's CPU varies by ~10%, and more would not fit a run's time
    min_measured = 10

    def __init__(self, run_dir: str, traced: bool) -> None:
        self.cpus = sorted(os.sched_getaffinity(0))
        self.cores = len(self.cpus)
        event_log = os.path.join(run_dir, "eventlog") if traced else None
        if event_log:
            os.makedirs(event_log)
        self.session = Session(run_dir, self.cores, event_log)
        self.spark: Any = None
        self.exclude: set[int] = set()

    def set_up(self, exclude: set[int], calib: Any) -> dict[str, float]:
        """Imports, JVM launch and session, then ensure_shipped and one job
        that forks every Python worker and imports cqf_spark there: what a
        user pays before the first job.  Returns process-tree CPU seconds,
        calibrated by kernel samples taken either side of it.  One sample
        a run: a JVM launch costs ~14 s of wall time."""
        self.exclude = exclude
        meter = Meter(True, exclude)
        before = calib.sample(self.cpus)
        t0 = meter.mark()
        import pyspark.sql  # noqa: F401

        import cqf_spark.aggregator  # noqa: F401
        import cqf_spark.queries  # noqa: F401
        import cqf_spark.webtext  # noqa: F401
        t1 = meter.mark()
        self.spark = self.session.start()
        t2 = meter.mark()
        from cqf_spark.aggregator import ensure_shipped

        ensure_shipped(self.spark)
        self.session.warm_workers()
        t3 = meter.mark()
        after = calib.sample(self.cpus)
        setup = (t3.cpu - t0.cpu).total
        return {"setup": setup,
                "setup_cal": setup * calib.ref_s / (0.5 * (before + after)),
                "import": (t1.cpu - t0.cpu).total,
                "jvm_launch": (t2.cpu - t1.cpu).total,
                "worker_warm": (t3.cpu - t2.cpu).total}

    def spark_context(self) -> Any:
        return self.spark.sparkContext

    def after_iteration(self) -> int:
        """Frames the iteration left persisted; then the cache is cleared so
        no later iteration is served from them."""
        leaked = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        return leaked

    def close(self) -> None:
        self.session.close(self.exclude)

    def finish_trace(self) -> dict[str, float]:
        """Stops the session, which closes its event log, and reads the
        traced iteration's task metrics from it."""
        from perfbench.tracing import spark_event_metrics

        self.close()
        groups = spark_event_metrics(self.session.event_log)
        traced = [a for g, a in groups.items() if g not in ("", "none")]

        def total(key: str) -> float:
            return sum(a.get(key, 0) for a in traced)

        counts = {
            "spark.python_tasks": int(total("python_tasks")),
            "spark.python_bytes_in": int(total("python_bytes_in")),
            "spark.python_bytes_out": int(total("python_bytes_out")),
            "spark.shuffle_write_bytes": int(total("shuffle_write_bytes")),
            "spark.tasks": int(total("tasks")),
            # executor fan-in rounds shuffle blobs; the driver merge is one more
            "merge.rounds": int(groups.get("merge", {}).get("shuffle_stages", 0)) + 1,
        }
        self.traced_counts.update(counts)
        return {
            "spark.python_tasks": counts["spark.python_tasks"],
            "spark.python_bytes_in": counts["spark.python_bytes_in"],
            "spark.python_bytes_out": counts["spark.python_bytes_out"],
            "spark.shuffle_write_mb": counts["spark.shuffle_write_bytes"] / 1e6,
            "merge.rounds": counts["merge.rounds"],
        }

    def generate(self, seed: int, out_dir: str) -> gen.WebtextInputs:
        return gen.webtext(seed, out_dir)

    def prepare(self, inp: gen.WebtextInputs, seed: int) -> None:
        import duckdb
        import pandas as pd

        from __spark_entry__ import oracle_sql, queries
        from cqf_spark.operators.webtext_queries import NGRAM_CONFIG

        self.inp = inp
        self.seed = seed
        self.config = NGRAM_CONFIG
        self.query = queries()[self.query_name]
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inp.docs_glob}')"
            )
            exact = con.execute(oracle_sql()[self.query_name]).arrow()
        finally:
            con.close()
        self.grams = exact.column("ngram").combine_chunks()
        counts = exact.column("approx_count").to_numpy().astype(np.int64)
        self.exact = pd.Series(counts, index=self.grams.to_pandas())
        self.n_rows = int(counts.sum())
        n = counts.size
        # overcounts come only from hash collisions: each of the n(n-1)/2
        # pairs collides with probability 2^-key_bits and bumps two keys
        self.max_over = 3 + math.ceil(4 * n * n / 2.0**NGRAM_CONFIG.key_bits)

    def check(self, pdf: Any) -> list[str]:
        got = pdf.set_index("ngram")["approx_count"]
        errors = []
        if len(got) != len(self.exact) or not got.index.is_unique:
            errors.append(f"{len(got)} result rows for {len(self.exact)} bigrams")
        diff = got.reindex(self.exact.index).to_numpy(np.float64) - self.exact.to_numpy()
        missing = int(np.isnan(diff).sum())
        under = int((diff < 0).sum())
        over = int((diff > 0).sum())
        if missing or under:
            errors.append(f"{missing} bigrams missing, {under} undercounted")
        if over > self.max_over:
            errors.append(f"{over} overcounted bigrams > {self.max_over}")
        return errors

    def iteration(self, meter: Meter, i: int) -> Iteration:
        t0 = meter.mark()
        # the query builds and merges its sketch before it returns; the
        # frame it returns is the broadcast probe of the counted bigrams
        df = self.query(self.spark, self.inp.sf_dir)
        t1 = meter.mark()
        pdf = df.toPandas()
        t2 = meter.mark()
        it = Iteration(rows_in=self.n_rows, probes=len(self.exact),
                       errors=self.check(pdf))
        it.set_phases(t0, t1, t2, meter.mark())
        return it

    def sketch_record(self) -> Iteration:
        """The sketch size and FP rate, taken once after the warm-up.

        Sketches of the counted bigrams (the oracle's exact counts, which
        are what ``counted_keys`` feeds the build) are built with
        ``Cqf.from_hashes`` in a universe of key_bits = q + 8, q being what
        ``qbits_for`` gives for the distinct count (bm.c's sizing).  The
        program picks the slot count itself, through ``qbits_for`` and its
        auto-resize, so its sizing and counter layout set the size.  The
        layout is canonical, so each is the sketch the Spark path would
        merge to.  Bigrams that cannot occur in the corpus probe them;
        FP_SEEDS hash seeds pool ~6k false hits."""
        from cqf_spark.aggregator import hash_arrow
        from cqf_spark.config import CqfConfig
        from cqf_spark.core import Cqf

        q = CqfConfig().qbits_for(len(self.exact))
        counts = self.exact.to_numpy().astype(np.uint64)
        probes = self.inp.fp_probes
        rec = Iteration()
        for j in range(FP_SEEDS):
            cfg8 = CqfConfig(key_bits=q + R_BITS,
                             seed=iteration_seed(self.seed, FP_SKETCH + j))
            sk8 = Cqf.from_hashes(cfg8, hash_arrow(self.grams, cfg8), counts)
            hits = int((sk8.count_hashes(hash_arrow(probes, cfg8)) > 0).sum())
            rec.errors += fp_error(hits, len(probes))
            if sk8.sum_of_counts != self.n_rows:
                rec.errors.append(f"sum_of_counts {sk8.sum_of_counts} != {self.n_rows} bigrams")
            under = int((sk8.count_hashes(hash_arrow(self.grams, cfg8)) < counts).sum())
            if under:
                rec.errors.append(f"{under} bigrams undercounted in the r=8 sketch")
            rec.fp_hits += hits
            rec.fp_probes += len(probes)
            rec.sketch_bytes += len(sk8.to_bytes())
            rec.distinct += sk8.num_distinct
        return rec

    def traced(self, tr: Any, i: int) -> list[str]:
        """``q_bigram_multiplicity`` rebuilt from the same public pieces,
        each stage materialized inside its own span."""
        from cqf_spark.aggregator import (
            build_sketches, count_udf, ensure_parallelism, tree_merge)
        from cqf_spark.queries import counted_keys
        from cqf_spark.webtext import ngram_stream, synth_webtext, with_extracted_text

        with tr.span("extract"):
            pages = with_extracted_text(ensure_parallelism(
                synth_webtext(self.spark, self.inp.sf_dir))).select("extracted_text").persist()
            pages.count()
        with tr.span("preagg"):
            counted = counted_keys(ngram_stream(pages, 2), "ngram")
            counted.count()
        with tr.span("build"):
            parts = build_sketches(counted, "ngram", self.config, count_col="__cnt").persist()
            parts.count()
        with tr.span("merge"):
            sk = tree_merge(parts)
        with tr.span("probe"):
            pdf = counted.select(
                "ngram", count_udf(self.spark, sk)("ngram").alias("approx_count")
            ).toPandas()
        with tr.span("check"):
            errors = self.check(pdf)
        self._traced_parts = (sk, parts)
        return errors

    def after_trace(self, tr: Any) -> dict[str, float]:
        """Per-layer metrics of the traced iteration, before the event log
        is read: span CPU, the lineage columns of the persisted partial
        sketches, and the driver-side replay of one partition's share of
        the counted bigrams."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from perfbench.tracing import replay

        sk, parts = self._traced_parts
        rows = [r for r in parts.select(
            "part_id", "n_rows", "nelts", "ndistinct", "qbits",
            F.length("sketch").alias("blob_bytes"),
        ).collect() if r["part_id"] >= 0]
        blobs = [bytes(r[0]) for r in parts.where("part_id >= 0").select("sketch").collect()]
        cfg = sk.config
        retries = sum(r["qbits"] - cfg.qbits_for(r["ndistinct"]) for r in rows)
        start_q = max([cfg.qbits_for(sk.num_distinct)] + [r["qbits"] for r in rows])
        retries += sk.geom.qbits - start_q
        blob_bytes = sum(r["blob_bytes"] for r in rows)
        rows_in = sum(r["nelts"] for r in rows)
        rows_out = sum(r["n_rows"] for r in rows)
        idx = np.arange(0, len(self.grams), self.cores)
        keys = self.grams.take(pa.array(idx))
        counts = self.exact.to_numpy()[idx].astype(np.uint64)
        self.traced_counts = {
            "layout.resize_retries": retries,
            "merge.blob_bytes": blob_bytes,
            "preagg.rows_in": rows_in,
            "preagg.rows_out": rows_out,
            "sketch.bytes": len(sk.to_bytes()),
        }
        return {
            "spark.build.cpu_s": tr.cpu("build"),
            "spark.merge.cpu_s": tr.cpu("merge"),
            "spark.probe.cpu_s": tr.cpu("probe"),
            "webtext.extract_cpu_s": tr.cpu("extract"),
            "preagg.cpu_s": tr.cpu("preagg"),
            "preagg.rows_in": rows_in,
            "preagg.rows_out": rows_out,
            "merge.blob_mb": blob_bytes / 1e6,
            "layout.resize_retries": retries,
            "sketch.load": sk.load_factor,
            "sketch.slots_per_item": sk.num_occupied_slots / max(sk.num_distinct, 1),
            **replay(self.config, keys, counts, sk, blobs),
        }

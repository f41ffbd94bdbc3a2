"""Run environment: work directory, core count, Spark session, seeded
corpus and the index builds every workload starts from.

Everything a run writes lives under ``<checkout>/.perfbench_work/run-<pid>``
(Spark local dirs, JVM and Python temp files, the corpus, the indexes and
the event log); :meth:`Env.close` stops Spark, waits for the JVM to exit and
removes the directory.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Size:
    """Input sizes of one run."""

    n_docs: int              # corpus documents
    docs_per_segment: int    # stage-1 SPIMI segment size
    merge_fanin: int         # stage-2 salted-merge fan-in
    postings_buckets: int    # postings hash partitions
    stream_queries: int      # queries drawn for the timed local query stream
    warmup_queries: int      # queries drawn apart for the local warm-up
    add_batch: int           # documents per add_docs commit
    delete_batch: int        # ids per delete_docs commit
    hot_queries: int         # hot local queries after each commit's visibility probe


# The corpus and index sizes are set by the run budget.  The batch sizes and
# query counts are assumptions (no ingest or search log is available): ten
# files per record, five ids per delete, six hot queries after each commit.
FULL = Size(n_docs=4000, docs_per_segment=512, merge_fanin=4, postings_buckets=8,
            stream_queries=8000, warmup_queries=500, add_batch=10, delete_batch=5, hot_queries=6)
# smoke size: every code path of every workload, in about a minute
SMOKE = Size(n_docs=300, docs_per_segment=64, merge_fanin=2, postings_buckets=4,
             stream_queries=200, warmup_queries=20, add_batch=3, delete_batch=2, hot_queries=2)

FIELDS = {"content": "content", "path": "path", "lang": "lang"}


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    return sum(file_sizes(path).values())


def file_sizes(path: str) -> dict[str, int]:
    """``{relative path: size}`` of the regular files under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


class Env:
    """One run's process environment and the shared set-up steps."""

    def __init__(self, root: str, seed: int, size: Size, event_log: bool):
        self.root = root
        self.seed = seed
        self.size = size
        self.event_log = event_log
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.spark = None
        self.cores = 0
        self.timings: dict[str, float] = {}

    # -- process ---------------------------------------------------------
    def count_cores(self) -> int:
        """The cores in this process's affinity mask (what ``nproc``
        reports); the JVM and Python workers it starts inherit the mask, and
        Spark runs ``local[<that many>]``."""
        self.cores = len(os.sched_getaffinity(0))
        return self.cores

    def start_session(self):
        from goobi_viewer_indexer_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local, self.event_dir):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        tempfile.tempdir = None
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.timings["session_s"] = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop Spark (completes the event log)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the work directory."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- inputs ----------------------------------------------------------
    def cfg(self):
        from goobi_viewer_indexer_spark.config import IndexConfig

        s = self.size
        return IndexConfig(docs_per_segment=s.docs_per_segment, merge_fanin=s.merge_fanin,
                           postings_buckets=s.postings_buckets, shuffle_partitions=self.cores)

    def write_corpus(self):
        """Seeded ``input_hint`` corpus with dense doc ids, written once as
        parquet; returns the parquet-backed DataFrame."""
        from goobi_viewer_indexer_spark.plans.build import assign_sequential_ids
        from goobi_viewer_indexer_spark.sources.corpus import generate_corpus

        path = os.path.join(self.work, "corpus")
        t0 = time.perf_counter()
        assign_sequential_ids(generate_corpus(self.spark, self.size.n_docs, seed=self.seed)).write.parquet(path)
        self.timings["corpus_s"] = time.perf_counter() - t0
        self.corpus_path = path
        return self.spark.read.parquet(path)

    def corpus_rows(self):
        """The corpus as a pandas frame, read with DuckDB (no Spark job):
        the client-side copy query and delete streams are drawn from."""
        import duckdb

        con = duckdb.connect()
        try:
            return con.sql(
                f"select doc_id, repo, path, lang, content from read_parquet('{self.corpus_path}/*.parquet') "
                "order by doc_id"
            ).df()
        finally:
            con.close()

    def index_dir(self, name: str) -> str:
        return os.path.join(self.work, name)

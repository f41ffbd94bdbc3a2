"""Per-layer tracing installed from outside the library.

Three sources, all switched on only for a ``--trace 1`` run:

* wrappers the tracer patches onto the library's public functions, at the
  name the caller looks them up by (``tokenize_py`` inside
  ``operators.search``, ``wand.score_topk`` on the ``wand`` module, ...);
  each call becomes a span (name, start, end, parent, operation id);
* a job group per Spark-launching operation, read back through
  ``statusTracker`` for job, stage and task counts;
* the Spark event log, whose jobs are attributed to operations by job group
  (or, for jobs launched from library threads, by submission time) and to
  library functions by the call site the tracer stamps on each action.

Spans and counters stay in memory; :func:`layer_metrics` reduces them once
the run is over.  :meth:`Tracer.restore` puts back every patched name.
"""

from __future__ import annotations

import ast
import collections
import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# op kinds answered by the driver-side local searchers
LOCAL_KINDS = ("local", "visible_add", "visible_delete")
COMMIT_KINDS = ("add", "delete")
DIST_CALLS = ("search_or", "search_and", "search_phrase", "search_boolean", "search_fuzzy")
BUILD_STAGES = ("0", "05", "1", "2", "3")


class Tracer:
    def __init__(self, spark, lib_root: str):
        self.sc = spark.sparkContext
        self.lib_root = lib_root + os.sep
        self.spans: list[list] = []          # [op_id, name, t0, t1, parent_index]
        self.ops: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self._patches: list[tuple] = []
        self._tls = threading.local()
        self._op: dict | None = None
        self._group: str | None = None
        self._next_id = 0
        self.phase = "setup"                  # setup | window | tail
        self._blocks: dict[int, int] = {}     # id(TermList) -> n_blocks, current op
        self._touched: set = set()            # (id(TermList), block), current op

    # -- patching ----------------------------------------------------------
    def patch(self, owner, attr: str, make) -> None:
        raw = owner.__dict__[attr] if attr in getattr(owner, "__dict__", {}) else getattr(owner, attr)
        setattr(owner, attr, make(getattr(owner, attr)))
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def quiet(self):
        """The tracer's own py4j traffic is not counted."""
        self._tls.quiet = True
        try:
            yield
        finally:
            self._tls.quiet = False

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = [self._op["id"] if self._op else 0, name, time.perf_counter(), None, stack[-1] if stack else -1]
        idx = len(self.spans)
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            stack.pop()

    def timed(self, name: str, before=None):
        """Wrapper factory: each call becomes a span called ``name``."""
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if before is not None:
                    before(a)
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def counted(self, key: str):
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not getattr(tracer._tls, "quiet", False):
                    tracer.counts[key] += 1
                return orig(*a, **kw)
            return wrapper
        return make

    def sited(self):
        """Wrapper factory for PySpark actions: stamps the calling library
        ``file:line`` and the current operation's job group on the thread
        that launches the job, so the event log can attribute it even when
        the library runs it on a worker thread."""
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.quiet():
                    tracer.sc.setLocalProperty("perfbench.site", tracer._lib_site())
                    tracer.sc.setLocalProperty("spark.jobGroup.id", tracer._group)
                return orig(*a, **kw)
            return wrapper
        return make

    def _lib_site(self) -> str | None:
        f = sys._getframe(2)
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(self.lib_root):
                return f"{os.path.relpath(fn, self.lib_root)}:{f.f_lineno}"
            f = f.f_back
        return None

    # -- wand block accounting --------------------------------------------
    def kernel_lists(self, args) -> None:
        """Record the distinct TermLists a kernel call receives (block base
        of the skip ratio)."""
        from goobi_viewer_indexer_spark.operators.wand import TermList

        todo = list(args[:2])
        while todo:
            x = todo.pop()
            if isinstance(x, TermList):
                self._blocks[id(x)] = x.n_blocks()
            elif isinstance(x, (list, tuple)):
                todo.extend(x)

    def decode_hook(self):
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(tl, i, *a, **kw):
                tracer._touched.add((id(tl), i))
                if i not in tl._cache:
                    tracer.counts["wand.blocks_decoded"] += 1
                return orig(tl, i, *a, **kw)
            return wrapper
        return make

    # -- operations -------------------------------------------------------
    @contextmanager
    def op(self, kind: str, group: bool = False):
        """One timed operation of the workload.  ``group``: run it under its
        own Spark job group and count its jobs through ``statusTracker``
        (skipped for driver-only queries, where the group calls would cost
        more than the query)."""
        self._next_id += 1
        op = {"id": self._next_id, "kind": kind, "group": None, "phase": self.phase}
        if group:
            gid = f"perfbench-{self._next_id}"
            op["group"] = gid
            with self.quiet():
                self.sc.setJobGroup(gid, kind)
            self._group = gid
        self._blocks, self._touched = {}, set()
        p0, d0 = self.counts["py4j"], self.counts["wand.blocks_decoded"]
        self._op = op
        op["w0"] = time.time() * 1000.0
        try:
            with self.span("op:" + kind):
                op["t0"] = time.perf_counter()
                yield op
        finally:
            op["t1"] = time.perf_counter()
            op["w1"] = time.time() * 1000.0
            self._op = None
            op["py4j"] = self.counts["py4j"] - p0
            op["blocks_decoded"] = self.counts["wand.blocks_decoded"] - d0
            op["blocks_base"] = sum(self._blocks.values())
            op["blocks_touched"] = len(self._touched)
            if group:
                self._group = None
                with self.quiet():
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                    op.update(self._tracker_counts(op["group"]))
            self.ops.append(op)

    def _tracker_counts(self, gid: str) -> dict:
        tr = self.sc.statusTracker()
        jobs = list(tr.getJobIdsForGroup(gid))
        stages = set()
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for s in stages:
            si = tr.getStageInfo(s)
            if si is not None:
                ran += 1
                tasks += si.numTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def install(tracer: Tracer) -> None:
    """Patch every traced name.  Pair with :meth:`Tracer.restore`."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from goobi_viewer_indexer_spark.operators import search, spimi, wand
    from goobi_viewer_indexer_spark.plans import maintenance, txn

    t = tracer
    t.patch(ClientServerConnection, "send_command", t.counted("py4j"))
    for name in ("collect", "count", "toPandas", "first", "take", "head"):
        t.patch(DataFrame, name, t.sited())
    t.patch(DataFrameWriter, "parquet", t.sited())

    t.patch(search, "tokenize_py", t.timed("functions.tokenize.tokenize_py"))
    for name in ("score_topk", "score_phrase", "score_boolean", "match_docs_boolean"):
        t.patch(wand, name, t.timed("operators.wand." + name, before=t.kernel_lists))
    t.patch(wand.TermList, "decode_block", t.decode_hook())
    t.patch(spimi, "merge_group_pdf", t.timed("operators.spimi.merge_group_pdf"))
    for cls in (search.InvertedIndex, search.FieldedIndex):
        base = "operators.search." + cls.__name__
        t.patch(cls, "__init__", t.timed(base + ".__init__"))
        t.patch(cls, "is_stale", t.timed(base + ".is_stale"))
        t.patch(cls, "postings_for", t.timed(base + ".postings_for"))
        t.patch(cls, "term_stats_for", t.timed(base + ".term_stats_for"))
    for cls in (search.LocalSearcher, search.LocalFieldedSearcher):
        t.patch(cls, "refresh", t.timed("operators.search." + cls.__name__ + ".refresh"))
    for name in ("recover_pending", "live_corpus_stats", "live_corpus_stats_fielded", "compact",
                 "add_docs", "delete_docs"):
        t.patch(maintenance, name, t.timed("plans.maintenance." + name))
    for name in ("txn_intent", "apply_append", "apply_swap", "txn_commit", "publish_table"):
        t.patch(txn, name, t.timed("plans.txn." + name))


# -- event log ------------------------------------------------------------
def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """``(jobs, stages)`` from the uncompressed event log of the run:
    jobs ``{id: {submit, end, group, site, stages}}``, stages
    ``{id: {run_ms, shuffle_write, spill, failed, tasks}}``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = collections.defaultdict(
        lambda: {"run_ms": 0.0, "shuffle_write": 0, "spill": 0, "failed": 0, "tasks": 0})
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev.get("Submission Time", 0),
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "site": props.get("perfbench.site"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["failed"] += 1 if info.get("Failed") else 0
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for jid, j in jobs.items():
        j["run_ms"] = j["shuffle_write"] = j["spill"] = j["tasks"] = 0
        for s in j["stages"]:
            if stage_job.get(s) == jid and s in stages:
                st = stages[s]
                j["run_ms"] += st["run_ms"]
                j["shuffle_write"] += st["shuffle_write"]
                j["spill"] += st["spill"]
                j["tasks"] += st["tasks"]
    return jobs, dict(stages)


@functools.lru_cache(maxsize=None)
def _defs(path: str) -> list[tuple[int, int, str]]:
    """(first line, last line, qualified name) of every def in ``path``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []

    def walk(node, prefix):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                q = f"{prefix}{ch.name}"
                if not isinstance(ch, ast.ClassDef):
                    out.append((ch.lineno, ch.end_lineno, q))
                walk(ch, q + ".")
            else:
                walk(ch, prefix)
    walk(tree, "")
    return out


def enclosing_def(path: str, line: int) -> str:
    """Innermost function of ``path`` containing ``line``."""
    best = ""
    best_span = None
    for lo, hi, q in _defs(path):
        if lo <= line <= hi and (best_span is None or hi - lo < best_span):
            best, best_span = q, hi - lo
    return best


@functools.lru_cache(maxsize=None)
def _stage_markers(path: str) -> list[tuple[int, str]]:
    import re

    out = []
    with open(path) as f:
        for i, line in enumerate(f, 1):
            m = re.match(r"\s*# ---- stage ([0-9.]+)", line)
            if m:
                out.append((i, m.group(1).replace(".", "")))
    return out


def build_stage(lib_root: str, site: str | None) -> str | None:
    """Build stage (0, 05, 1, 2, 3) of a job launched from
    ``plans/build.py``: the writer functions of stages 0.5 and 3 by name,
    everything else by the nearest preceding ``# ---- stage N`` marker."""
    if not site or not site.startswith("plans/build.py:"):
        return None
    path = os.path.join(lib_root, "plans", "build.py")
    line = int(site.rsplit(":", 1)[1])
    fn = enclosing_def(path, line)
    if fn.endswith("_write_doclens_packed"):
        return "05"
    if fn.endswith("_write_term_stats"):
        return "3"
    stage = None
    for lo, s in _stage_markers(path):
        if lo <= line:
            stage = s
    return stage


def attribute_jobs(jobs: dict, ops: list[dict]) -> None:
    """Set ``job["op"]`` to the operation that launched each job: by job
    group when it carries one, else by submission time inside an
    operation's wall-clock window (one client, operations never overlap)."""
    by_group = {o["group"]: o for o in ops if o.get("group")}
    windows = sorted((o["w0"], o["w1"], o) for o in ops)
    for j in jobs.values():
        op = by_group.get(j["group"])
        if op is None:
            for w0, w1, o in windows:
                if w0 <= j["submit"] <= w1 + 1:
                    op = o
                    break
        j["op"] = op["id"] if op is not None else None


def self_times(spans: list[list]) -> dict[int, float]:
    """Span index -> duration minus the part covered by its child spans."""
    own = {i: (s[3] or s[2]) - s[2] for i, s in enumerate(spans)}
    for s in spans:
        p = s[4]
        if p >= 0:
            own[p] -= (s[3] or s[2]) - s[2]
    return own


# -- reduction ------------------------------------------------------------
PER_LAYER_UNITS = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.cpu_busy_frac": "ratio",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.failed_tasks": "count",
    "py4j.calls_per_op": "count",
    "session.start_s": "s",
    "sources.corpus.gen_s": "s",
    "plans.build.docs_per_s": "docs/s",
    **{f"plans.build.stage{s}_task_s": "s" for s in BUILD_STAGES},
    **{f"plans.build.stage{s}_wall_s": "s" for s in BUILD_STAGES},
    "index.bytes_per_source_byte": "ratio",
    "index.postings_bytes_per_source_byte": "ratio",
    "index.side_bytes_per_source_byte": "ratio",
    "operators.spimi.partials_bytes_per_source_byte": "ratio",
    "operators.spimi.merge_shuffle_bytes_per_source_byte": "ratio",
    "operators.search.construct_ms": "ms",
    "operators.search.execute_ms": "ms",
    **{f"operators.search.{c}.p50_ms": "ms" for c in DIST_CALLS},
    "operators.search.lookup_jobs_per_op": "count",
    "operators.search.open_ms": "ms",
    "operators.search.local.refresh_ms": "ms",
    "operators.search.local.freshness_ms": "ms",
    "operators.search.local.fetches_per_query": "count",
    "functions.tokenize.analyze_ms": "ms",
    "operators.wand.kernel_ms": "ms",
    "operators.wand.blocks_decoded_per_query": "count",
    "operators.wand.block_skip_ratio": "ratio",
    "operators.spimi.stitch_ms": "ms",
    "plans.maintenance.add_task_s": "s",
    "plans.maintenance.add_jobs": "count",
    "plans.maintenance.delete_task_s": "s",
    "plans.maintenance.delete_jobs": "count",
    "plans.maintenance.recover_ms": "ms",
    "plans.maintenance.live_stats_ms": "ms",
    "plans.maintenance.compact_s": "s",
    "plans.maintenance.compact_bytes_rewritten": "bytes",
    "plans.txn.commit_ms": "ms",
    "plans.txn.bytes_written_per_user_byte": "ratio",
    "index.delta_rows_per_term": "count",
    "trace.overhead_pct": "%",
}

LOOKUP_DEFS = ("term_stats_for", "expand_prefix", "expand_fuzzy", "expand_range")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    import statistics

    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, env, wl, res: dict, untraced: dict, extra: dict, lib_root: str) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric; 0 where the
    workload has no such work."""
    from perfbench.fixture import dir_bytes

    jobs, stages = read_event_log(env.event_dir)
    ops = tracer.ops
    attribute_jobs(jobs, ops)
    jobs_of: dict[int, list[dict]] = collections.defaultdict(list)
    for j in jobs.values():
        if j["op"] is not None:
            jobs_of[j["op"]].append(j)
    for j in jobs.values():
        site = j["site"]
        j["def"] = ""
        if site and site.startswith("operators/search.py:"):
            j["def"] = enclosing_def(os.path.join(lib_root, "operators", "search.py"), int(site.rsplit(":", 1)[1]))

    own = self_times(tracer.spans)
    spans_of: dict[int, list[tuple[str, float, float]]] = collections.defaultdict(list)
    for i, s in enumerate(tracer.spans):
        if s[3] is not None:
            spans_of[s[0]].append((s[1], s[3] - s[2], own[i]))

    def span_sum(op_list, pred, self_time=False) -> float:
        return sum((st if self_time else d) for o in op_list for (n, d, st) in spans_of[o["id"]] if pred(n))

    window = [o for o in ops if o["phase"] == "window"]
    after_setup = [o for o in ops if o["phase"] != "setup"]
    local = [o for o in window if o["kind"] in LOCAL_KINDS]
    dist = [o for o in after_setup if o["kind"].startswith("dist:")]
    commits = [o for o in window if o["kind"] in COMMIT_KINDS]
    n_w = max(1, len(window))

    def op_jobs(o):
        return o["jobs"] if o.get("group") else len(jobs_of[o["id"]])

    def op_stages(o):
        if o.get("group"):
            return o["stages"]
        return sum(1 for j in jobs_of[o["id"]] for s in j["stages"] if s in stages)

    def op_tasks(o):
        return o["tasks"] if o.get("group") else sum(j["tasks"] for j in jobs_of[o["id"]])

    def jsum(op_list, key) -> float:
        return sum(j[key] for o in op_list for j in jobs_of[o["id"]])

    src = wl.corpus.source_bytes
    m: dict[str, float] = {}
    m["spark.jobs_per_op"] = sum(op_jobs(o) for o in window) / n_w
    m["spark.stages_per_op"] = sum(op_stages(o) for o in window) / n_w
    m["spark.tasks_per_op"] = sum(op_tasks(o) for o in window) / n_w
    m["spark.task_s_per_op"] = jsum(window, "run_ms") / 1000.0 / n_w
    busy = sum(o["t1"] - o["t0"] for o in window)
    m["spark.cpu_busy_frac"] = jsum(window, "run_ms") / 1000.0 / max(1e-9, busy * env.cores)
    m["spark.shuffle_write_bytes_per_op"] = jsum(window, "shuffle_write") / n_w
    m["spark.spill_bytes_per_op"] = jsum(window, "spill") / n_w
    m["spark.failed_tasks"] = sum(s["failed"] for s in stages.values())
    m["py4j.calls_per_op"] = sum(o["py4j"] for o in window) / n_w

    m["session.start_s"] = env.timings.get("session_s", 0.0)
    m["sources.corpus.gen_s"] = env.timings.get("corpus_s", 0.0)
    m["plans.build.docs_per_s"] = env.size.n_docs / env.timings["build_s"]
    build_ops = {o["id"] for o in ops if o["kind"] == "build"}
    per_stage: dict[str, list[dict]] = collections.defaultdict(list)
    for j in jobs.values():
        if j["op"] in build_ops:
            st = build_stage(lib_root, j["site"])
            if st is not None:
                per_stage[st].append(j)
    for st in BUILD_STAGES:
        js = per_stage.get(st, [])
        m[f"plans.build.stage{st}_task_s"] = sum(j["run_ms"] for j in js) / 1000.0
        ends = [j["end"] for j in js if j["end"] is not None]
        m[f"plans.build.stage{st}_wall_s"] = (max(ends) - min(j["submit"] for j in js)) / 1000.0 if ends else 0.0

    built = wl.built_dir
    total = dir_bytes(built)
    postings = dir_bytes(os.path.join(built, "postings"))
    partials = dir_bytes(os.path.join(built, "partials"))
    m["index.bytes_per_source_byte"] = total / src
    m["index.postings_bytes_per_source_byte"] = postings / src
    m["index.side_bytes_per_source_byte"] = (total - postings - partials) / src
    m["operators.spimi.partials_bytes_per_source_byte"] = partials / src
    m["operators.spimi.merge_shuffle_bytes_per_source_byte"] = sum(j["shuffle_write"] for j in per_stage.get("2", [])) / src

    m["operators.search.construct_ms"] = _mean(o["construct_s"] for o in dist if "construct_s" in o) * 1000.0
    m["operators.search.execute_ms"] = _mean(o["execute_s"] for o in dist if "execute_s" in o) * 1000.0
    for c in DIST_CALLS:
        m[f"operators.search.{c}.p50_ms"] = _median(
            o["construct_s"] + o["execute_s"] for o in dist if o["kind"] == "dist:" + c and "construct_s" in o) * 1000.0
    m["operators.search.lookup_jobs_per_op"] = (
        sum(1 for o in dist for j in jobs_of[o["id"]] if j["def"].split(".")[-1] in LOOKUP_DEFS) / max(1, len(dist)))
    all_spans = [(s[1], s[3] - s[2]) for s in tracer.spans if s[3] is not None]
    m["operators.search.open_ms"] = _mean(d for n, d in all_spans if n.endswith("Index.__init__")) * 1000.0
    m["operators.search.local.refresh_ms"] = _mean(d for n, d in all_spans if n.endswith("Searcher.refresh")) * 1000.0

    n_l = max(1, len(local))
    m["operators.search.local.freshness_ms"] = span_sum(local, lambda n: n.endswith(".is_stale")) / n_l * 1000.0
    m["operators.search.local.fetches_per_query"] = (
        sum(1 for o in local for (n, _d, _s) in spans_of[o["id"]] if n.endswith(".postings_for")) / n_l)
    m["functions.tokenize.analyze_ms"] = span_sum(local, lambda n: n.startswith("functions.tokenize.")) / n_l * 1000.0
    m["operators.wand.kernel_ms"] = span_sum(local, lambda n: n.startswith("operators.wand."), True) / n_l * 1000.0
    m["operators.wand.blocks_decoded_per_query"] = sum(o["blocks_decoded"] for o in local) / n_l
    base = sum(o["blocks_base"] for o in local)
    m["operators.wand.block_skip_ratio"] = 1.0 - sum(o["blocks_touched"] for o in local) / base if base else 0.0
    m["operators.spimi.stitch_ms"] = span_sum(local, lambda n: n == "operators.spimi.merge_group_pdf") / n_l * 1000.0

    for kind in COMMIT_KINDS:
        cs = [o for o in commits if o["kind"] == kind]
        m[f"plans.maintenance.{kind}_task_s"] = jsum(cs, "run_ms") / 1000.0 / max(1, len(cs))
        m[f"plans.maintenance.{kind}_jobs"] = sum(op_jobs(o) for o in cs) / max(1, len(cs))
    n_c = max(1, len(commits))
    m["plans.maintenance.recover_ms"] = span_sum(commits, lambda n: n == "plans.maintenance.recover_pending") / n_c * 1000.0
    m["plans.maintenance.live_stats_ms"] = span_sum(
        commits, lambda n: n.startswith("plans.maintenance.live_corpus_stats")) / n_c * 1000.0
    m["plans.maintenance.compact_s"] = extra.get("compact_s", 0.0)
    m["plans.maintenance.compact_bytes_rewritten"] = extra.get("compact_bytes", 0)
    m["plans.txn.commit_ms"] = span_sum(commits, lambda n: n.startswith("plans.txn.")) / n_c * 1000.0
    adds = [o for o in commits if o["kind"] == "add"]
    user = getattr(wl, "window_added_bytes", 0)
    m["plans.txn.bytes_written_per_user_byte"] = sum(o.get("bytes_written", 0) for o in adds) / user if user else 0.0
    m["index.delta_rows_per_term"] = extra.get("delta_rows_per_term", 0.0)
    traced_ms = _median(res["op_s"]) * res["cpu_factor"]
    m["trace.overhead_pct"] = (traced_ms / (_median(untraced["op_s"]) * untraced["cpu_factor"]) - 1.0) * 100.0

    return {k: (float(m[k]), PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}

"""The two seeded closed-loop workloads and their output checks.

``query_local``: raw-string queries against one warmed ``LocalSearcher`` and
one ``LocalFieldedSearcher``; the working set fits their term caches, so the
driver-side search path and the WAND kernels do the work and Spark none.
The timed queries are drawn apart from the warm-up queries; a query repeats
only where the Zipf draw repeats it (``repeat_share`` in the report).

``update_mixed``: cycles of ``add_docs`` -> visibility probe -> warm local
queries -> one distributed call -> ``delete_docs`` -> visibility probe ->
warm local queries -> one distributed call, on a copy of a freshly built
base index.  Spark jobs of the maintenance plans do most of the work.  One
commit carries one record's files, as the reference's hotfolder commits once
per record file (SURVEY.md sections 3.1, 3.2); the batch sizes themselves are
assumptions (see ``fixture.FULL``).

Both draw every input (corpus, query text, added documents, deleted ids)
from the run seed; the library only receives the generated inputs.
"""

from __future__ import annotations

import contextlib
import re
import shutil
import statistics
import sys
import time
import traceback
import unicodedata
from dataclasses import dataclass

import numpy as np

from perfbench.fixture import FIELDS, file_sizes

_TOKEN = re.compile(r"[a-z0-9]+")
_SEPS = (" ", " ", ", ", " (", ".", "_")
# one block of the local query stream: or 30 %, and 20 %, min_match 10 %,
# phrase 15 %, boolean 10 %, fielded 15 %.  The query forms are the viewer's
# (SURVEY.md section 2-B); the shares are an assumption, as no search log is
# available.  They are fixed, so the mix does not vary with the seed and a
# change to it needs evidence.
LOCAL_BLOCK = ("or", "and", "or", "phrase", "fielded", "mm", "or", "and", "boolean", "phrase",
               "or", "fielded", "and", "or", "mm", "phrase", "boolean", "fielded", "or", "and")


def tokens(text: str | None) -> list[str]:
    """Benchmark-side twin of the engine's analysis (NFC, lower case, ASCII
    ``[a-z0-9]+`` runs), used only to draw query text and oracle terms."""
    return _TOKEN.findall(unicodedata.normalize("NFC", text or "").lower())


@dataclass(frozen=True)
class Query:
    kind: str   # or | and | mm | phrase | boolean | fielded | search_* (distributed)
    text: str
    k: int


class CpuClock:
    """Interleaved CPU-speed calibration.

    The cores this benchmark gets are shared with other machines' work, and
    the same Python loop runs up to a third slower from one second to the
    next.  A fixed pure-Python chunk is timed between operations; latencies
    are reported scaled by ``REFERENCE_S / median(chunk time)``, i.e. at the
    speed of a core that runs the chunk in ``REFERENCE_S``."""

    LOOPS = 10_000
    REFERENCE_S = 0.4e-3

    def __init__(self):
        self.samples: list[float] = []

    def sample(self, n: int = 1) -> None:
        for _ in range(n):
            t0 = time.perf_counter()
            x = 0
            for i in range(self.LOOPS):
                x += i
            self.samples.append(time.perf_counter() - t0)

    def factor(self) -> float:
        return self.REFERENCE_S / statistics.median(self.samples)


class Failures:
    """Counts attempted and failed operations and checks; a failure is any
    exception or any failed output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)


class Corpus:
    """Client-side view of the seeded corpus for drawing query inputs.

    ``avoid_ident``: draw no per-file identifier token into queries (the
    update workload deletes files, and with them their only occurrence)."""

    def __init__(self, rows, avoid_ident: bool = False):
        self.ids = rows["doc_id"].to_numpy(np.int64)
        if not np.array_equal(self.ids, np.arange(len(self.ids))):
            raise ValueError("corpus doc ids are not dense 0..n-1")
        self.toks = [tokens(c) for c in rows["content"]]
        self.lang = rows["lang"].tolist()
        self.path_toks = [tokens(p) for p in rows["path"]]
        self.source_bytes = int(sum(len((c or "").encode("utf-8")) for c in rows["content"]))
        self.first = 1 if avoid_ident else 0
        self.long = np.array([i for i, t in enumerate(self.toks) if len(t) >= 8], dtype=np.int64)

    def window(self, rng, n: int) -> list[str]:
        t = self.toks[int(rng.choice(self.long))]
        s = int(rng.integers(self.first, len(t) - n + 1))
        return t[s: s + n]

    def any_token(self, rng) -> str:
        return self.window(rng, 1)[0]


def _raw(rng, toks: list[str]) -> str:
    """Raw query text: tokens joined by mixed separators, some capitalised,
    so analysis does real work."""
    out = []
    for i, t in enumerate(toks):
        out.append(t.capitalize() if rng.random() < 0.2 else t)
        if i + 1 < len(toks):
            out.append(_SEPS[int(rng.integers(0, len(_SEPS)))])
    return "".join(out)


def local_query(rng, corpus: Corpus, kind: str, n_terms: int, k: int) -> Query:
    if kind in ("or", "and", "mm"):
        return Query(kind, _raw(rng, corpus.window(rng, n_terms)), k)
    if kind == "phrase":
        return Query(kind, _raw(rng, corpus.window(rng, 2)), k)
    if kind == "boolean":
        a, b = corpus.window(rng, 2)
        return Query(kind, f"{a} {b} -{corpus.any_token(rng)}", k)
    i = int(rng.choice(corpus.long))
    t = corpus.toks[i][corpus.first:]
    a, b = t[int(rng.integers(0, len(t)))], t[int(rng.integers(0, len(t)))]
    shape = n_terms % 3
    if shape == 0:
        return Query("fielded", f"content:{a} AND lang:{corpus.lang[i]}", k)
    if shape == 1:
        pk = next((p for p in corpus.path_toks[i] if p.startswith("pkg")), "src")
        return Query("fielded", f"content:({a} {b}) AND path:{pk}", k)
    return Query("fielded", f"content:{a} OR content:{b}", k)


def local_stream(rng, corpus: Corpus, n: int, fielded: bool = True) -> list[Query]:
    """``n`` queries in repeated :data:`LOCAL_BLOCK` order; per kind the
    term count cycles (1-5, min_match 2-5) and every fifth query asks for
    k=100 -- only the drawn text depends on the seed."""
    block = [k for k in LOCAL_BLOCK if fielded or k != "fielded"]
    seen: dict[str, int] = {}
    out = []
    for i in range(n):
        kind = block[i % len(block)]
        j = seen[kind] = seen.get(kind, -1) + 1
        n_terms = 2 + j % 4 if kind == "mm" else 1 + j % 5
        out.append(local_query(rng, corpus, kind, n_terms, 100 if i % 5 == 4 else 10))
    return out


def dist_query(rng, corpus: Corpus, call: str) -> Query:
    if call in ("search_or", "search_and"):
        return Query(call, _raw(rng, corpus.window(rng, int(rng.integers(1, 4)))), 10)
    if call == "search_phrase":
        return Query(call, _raw(rng, corpus.window(rng, 2)), 10)
    if call == "search_boolean":
        a = corpus.any_token(rng)
        stem = next(t for t in iter(lambda: corpus.any_token(rng), None) if len(t) >= 4 and not t.startswith("id"))
        return Query(call, f"{a} {stem[:3]}* -{corpus.any_token(rng)}", 10)
    t = next(t for t in iter(lambda: corpus.any_token(rng), None) if len(t) >= 5 and not t.startswith("id"))
    j = int(rng.integers(1, len(t) - 1))
    return Query("search_fuzzy", t[:j] + ("x" if t[j] != "x" else "y") + t[j + 1:], 10)


def run_local(ls, lf, q: Query):
    if q.kind == "or":
        return ls.search(q.text, k=q.k, mode="or")
    if q.kind == "and":
        return ls.search(q.text, k=q.k, mode="and")
    if q.kind == "mm":
        return ls.search(q.text, k=q.k, mode="or", min_match=2)
    if q.kind == "phrase":
        return ls.search_phrase(q.text, k=q.k)
    if q.kind == "boolean":
        return ls.search_boolean(q.text, k=q.k)
    return lf.search(q.text, k=q.k)


def dist_frame(idx, q: Query):
    """The public distributed call (plan construction only)."""
    if q.kind == "search_or":
        return idx.search(q.text, k=q.k, mode="or")
    if q.kind == "search_and":
        return idx.search(q.text, k=q.k, mode="and")
    if q.kind == "search_phrase":
        return idx.search_phrase(q.text, k=q.k)
    if q.kind == "search_boolean":
        return idx.search_boolean(q.text, k=q.k)
    return idx.search_fuzzy(q.text, k=q.k)


def _rows(df) -> list[tuple]:
    return [(int(r[0]), float(r[1])) for r in df.collect()]


class _Untraced:
    """Stands in for the tracer in untraced runs: installs nothing."""

    @staticmethod
    def op(kind, group=False):
        return contextlib.nullcontext({})


NULL_TRACER = _Untraced()


def well_formed(res, k: int, n_docs: int) -> bool:
    """At most ``k`` distinct known doc ids, ranked by (round6 score desc,
    doc_id asc) -- the engine's result contract."""
    keys = [(-round(s, 6), d) for d, s in res]
    return (len(res) <= k and keys == sorted(keys) and len({d for d, _ in res}) == len(res)
            and all(0 <= d < n_docs for d, _ in res))


def oracle_checks(env, idx, samples, fails: Failures) -> None:
    """Timed flat queries and the answers they got: the distributed path and
    DuckDB running ``naive_bm25.bm25_topk_sql`` over the corpus parquet give
    the same answers (rank and round6 score)."""
    import duckdb

    from goobi_viewer_indexer_spark.operators.naive_bm25 import bm25_topk_sql

    con = duckdb.connect()
    try:
        con.sql(f"create view documents as select * from read_parquet('{env.corpus_path}/*.parquet')")
        for q, local in samples:
            mode = "and" if q.kind == "and" else "or"
            try:
                dist = _rows(idx.search(q.text, k=q.k, mode=mode))
                # the SQL orders by the unrounded score; the engine's contract is
                # (round6 score desc, doc_id asc) -- over-fetch, re-rank by it
                sql = bm25_topk_sql(sorted(set(tokens(q.text))), k=q.k + 30, mode=mode, cfg=env.cfg(),
                                    id_col="doc_id", text_col="content")
                rows = [(int(d), round(float(s), 6)) for d, s in con.sql(sql).fetchall()]
                oracle = sorted(rows, key=lambda r: (-r[1], r[0]))[: q.k]
            except Exception:
                fails.error(f"oracle sample {q}")
                continue
            fails.check(local == dist, f"local != distributed for {q}")
            fails.check([(d, round(s, 6)) for d, s in local] == oracle, f"local != DuckDB for {q}")
    finally:
        con.close()


def repeat_flags(warm: list[Query], stream: list[Query]) -> list[bool]:
    """Per stream query: was the same query (kind, analysed terms, k) already
    asked in the warm-up or earlier in the stream?"""
    seen = {(q.kind, tuple(tokens(q.text)), q.k) for q in warm}
    out = []
    for q in stream:
        key = (q.kind, tuple(tokens(q.text)), q.k)
        out.append(key in seen)
        seen.add(key)
    return out


class QueryLocal:
    name = "query_local"
    SAMPLE_EVERY = 16   # every 16th timed query keeps its answer for the checks
    ORACLE_SAMPLES = 3  # of which this many flat ones go to the distributed path and DuckDB

    def __init__(self, env):
        self.env = env
        self.size = env.size
        self.rng = np.random.default_rng([env.seed, 1])
        self.pos = 0         # next stream position; a traced run's second window goes on from here
        self.samples: list[tuple[Query, list]] = []

    def prepare(self, df, tracer=NULL_TRACER) -> None:
        """Once per run: both index builds, the warm-up and timed query
        streams (drawn apart, so the window does not replay the warm-up)."""
        from goobi_viewer_indexer_spark.plans.build import build_index_fielded

        env = self.env
        t0 = time.perf_counter()
        self.corpus = Corpus(env.corpus_rows())
        env.timings["corpus_rows_s"] = time.perf_counter() - t0
        self.built_dir = self.flat_dir = env.index_dir("flat")
        self.fielded_dir = env.index_dir("fielded")
        build_flat(env, df, self.flat_dir, tracer)
        with tracer.op("build_fielded"):
            t0 = time.perf_counter()
            build_index_fielded(df, self.fielded_dir, FIELDS, env.cfg())
            env.timings["build_fielded_s"] = time.perf_counter() - t0
        self.warm_stream = local_stream(np.random.default_rng([env.seed, 4]), self.corpus, self.size.warmup_queries)
        self.stream = local_stream(self.rng, self.corpus, self.size.stream_queries)
        self.repeat = repeat_flags(self.warm_stream, self.stream)

    def setup_rep(self) -> None:
        """Repeatable set-up: open both snapshot handles and local searchers
        and fill their term caches for the vocabulary of both streams."""
        from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex

        spark = self.env.spark
        self.idx = InvertedIndex(spark, self.flat_dir)
        self.fidx = FieldedIndex(spark, self.fielded_dir)
        self.ls = self.idx.open_local()
        self.lf = self.fidx.open_local()
        queries = self.warm_stream + self.stream
        # one AND query over the whole vocabulary loads every posting list
        # in one fetch and scores next to nothing (empty intersection)
        vocab = sorted({t for q in queries if q.kind != "fielded" for t in tokens(q.text)})
        self.ls.search(vocab, k=10, mode="and")
        fterms = sorted({(f, t) for q in queries if q.kind == "fielded"
                         for f, ts in re.findall(r"(\w+):\(?([a-z0-9 ]+)", q.text) for t in ts.split()})
        if fterms:
            self.lf.search(" AND ".join(f"{f}:{t}" for f, t in fterms), k=10)

    def warm(self, fails: Failures) -> None:
        """One untimed pass over the warm-up stream."""
        for q in self.warm_stream:
            try:
                run_local(self.ls, self.lf, q)
            except Exception:
                fails.error(f"warm-up {q}")

    def run(self, seconds: float, fails: Failures, tracer=NULL_TRACER) -> dict:
        lat = []
        clock = CpuClock()
        n = len(self.stream)
        n_docs = self.size.n_docs
        first = self.pos
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not lat:
            i = self.pos
            self.pos += 1
            if i % 4 == 0:
                clock.sample()
            q = self.stream[i % n]
            try:
                with tracer.op("local"):
                    t0 = time.perf_counter()
                    res = run_local(self.ls, self.lf, q)
                    dt = time.perf_counter() - t0
            except Exception:
                fails.error(f"query {q}")
                continue
            lat.append(dt)
            fails.check(well_formed(res, q.k, n_docs), f"malformed answer for {q}: {res}")
            if i % self.SAMPLE_EVERY == self.env.seed % self.SAMPLE_EVERY:
                self.samples.append((q, res))
        # a query past the end of the stream repeats one asked before
        repeats = sum(self.repeat[i] if i < n else True for i in range(first, self.pos))
        return {"op_s": lat, "query_s": lat, "window_s": sum(lat), "cpu_factor": clock.factor(),
                "repeat_share": repeats / (self.pos - first)}

    def check(self, fails: Failures) -> None:
        """Second pass over the sampled timed queries (same answers); the
        first few flat ones also against the distributed path and DuckDB;
        one fielded query local == distributed; the build's stats."""
        for q, res in self.samples:
            try:
                again = run_local(self.ls, self.lf, q)
            except Exception:
                fails.error(f"second pass {q}")
                continue
            fails.check(again == res, f"second pass {q}: {again} != {res}")
        flat = [(q, res) for q, res in self.samples
                if q.kind in ("or", "and") and len(set(tokens(q.text))) == len(tokens(q.text))]
        oracle_checks(self.env, self.idx, flat[: self.ORACLE_SAMPLES], fails)
        q = next(q for q in [q for q, _ in self.samples] + self.stream if q.kind == "fielded")
        try:
            dist = _rows(self.fidx.search(q.text, k=q.k))
            fails.check(self.lf.search(q.text, k=q.k) == dist, f"fielded local != distributed for {q.text!r}")
        except Exception:
            fails.error(f"fielded check {q.text!r}")
        build_checks(self.flat_dir, self.corpus, self.size.n_docs, fails)


class UpdateMixed:
    name = "update_mixed"
    SETTLE_S = 0.1   # pause before each calibration, after Spark is idle

    def __init__(self, env):
        self.env = env
        self.size = env.size
        self.rng = np.random.default_rng([env.seed, 3])
        self.cycle = 0
        self.next_row = 10_000_000
        self.rep = 0

    def prepare(self, df, tracer=NULL_TRACER) -> None:
        env = self.env
        self.corpus = Corpus(env.corpus_rows(), avoid_ident=True)
        self.built_dir = self.base_dir = env.index_dir("base")
        build_flat(env, df, self.base_dir, tracer)
        self.live = {int(d) for d in self.corpus.ids}
        self.doc_toks = dict(zip(self.corpus.ids.tolist(), self.corpus.toks))
        # live document frequency of every non-identifier token
        self.df: dict[str, int] = {}
        for toks in self.corpus.toks:
            for t in set(toks[1:] if toks and toks[0].startswith("id") else toks):
                self.df[t] = self.df.get(t, 0) + 1
        # hot queries use common terms only: a term whose every holder gets
        # deleted is never queried locally (see _gone)
        pool = local_stream(self.rng, self.corpus, 40 * self.size.hot_queries, fielded=False)
        self.hot = [q for q in pool if all(self.df.get(t, 0) >= 20 for t in tokens(q.text))][: self.size.hot_queries]
        self.deleted: set[int] = set()
        self.probe_tok: dict[int, str] = {}   # deleted doc -> its probe token
        self.n_added = 0
        self.window_added_bytes = 0   # text bytes added under the tracer

    def setup_rep(self) -> None:
        """Repeatable set-up: copy the base index, open a snapshot handle and
        a local searcher on the copy, fill the hot queries' terms."""
        from goobi_viewer_indexer_spark.operators.search import InvertedIndex

        self.rep += 1
        self.dir = self.env.index_dir(f"live{self.rep}")
        shutil.copytree(self.base_dir, self.dir)
        self.ls = InvertedIndex(self.env.spark, self.dir).open_local()
        self.ls.search(sorted({t for q in self.hot for t in tokens(q.text)}), k=10, mode="and")
        if self.rep > 1:
            shutil.rmtree(self.env.index_dir(f"live{self.rep - 1}"), ignore_errors=True)

    def warm(self, fails: Failures) -> None:
        for q in self.hot:
            run_local(self.ls, None, q)

    def _new_docs(self):
        """A seeded batch of new files (one "record"), blank files dropped so
        every added document carries its identifier token."""
        from goobi_viewer_indexer_spark.sources.corpus import gen_rows_pdf

        n = self.size.add_batch
        pdf = gen_rows_pdf(np.arange(self.next_row, self.next_row + 2 * n), seed=self.env.seed)[["content"]]
        self.next_row += 2 * n
        return pdf[[bool(tokens(c)) for c in pdf["content"]]].head(n).reset_index(drop=True)

    def _probe(self, run, kind: str, fails: Failures, out: dict, tracer) -> float:
        """Visibility: from commit return until the already-open local
        searcher first answers ``run`` correctly at the new revision."""
        deadline = time.perf_counter() + 60.0
        with tracer.op(kind):
            t0 = time.perf_counter()
            # maintenance appends to some tables in place (tombstones); a
            # handle re-opened in the same session would otherwise get the
            # Spark-cached rows of the previous open back
            self.env.spark.catalog.refreshByPath(self.dir)
            while not (ok := run()) and time.perf_counter() < deadline:
                pass
            dt = time.perf_counter() - t0
        fails.check(ok, f"{kind}: no correct answer within 60 s")
        out.setdefault("visibility_s", []).append(dt)
        return dt

    def _gone(self, d: int) -> bool:
        """Deleted ``d`` is unanswered and its probe token answers exactly
        the live documents holding it.  (A deleted file's identifier token
        is not queried: it has no live document left.)"""
        t = self.probe_tok[d]
        if self.df[t] == 0:
            return True   # every holder is deleted; a dead term is not queried
        res = self.ls.search([t], k=self.df[t] + 10)
        return len(res) == self.df[t] and all(x not in self.deleted for x, _ in res)

    def _queries(self, fails: Failures, out: dict, tracer) -> float:
        """The hot queries, once each, right after a commit's probe."""
        total = 0.0
        for q in self.hot:
            try:
                with tracer.op("local"):
                    t0 = time.perf_counter()
                    res = run_local(self.ls, None, q)
                    dt = time.perf_counter() - t0
            except Exception:
                fails.error(f"query {q}")
                continue
            total += dt
            out.setdefault("query_s", []).append(dt)
            fails.check(not any(d in self.deleted for d, _ in res), f"deleted id returned for {q}")
        return total

    def _dist(self, call: str, fails: Failures, out: dict, tracer) -> float:
        return self.dist_call(dist_query(self.rng, self.corpus, call), fails, out, tracer)

    def dist_call(self, q: Query, fails: Failures, out: dict, tracer) -> float:
        idx = self.ls.index  # the snapshot the local searcher refreshed to
        try:
            with tracer.op("dist:" + q.kind, group=True) as op:
                t0 = time.perf_counter()
                df = dist_frame(idx, q)
                t1 = time.perf_counter()
                res = _rows(df)
                t2 = time.perf_counter()
                op["construct_s"], op["execute_s"] = t1 - t0, t2 - t1
        except Exception:
            fails.error(f"distributed {q}")
            return 0.0
        out.setdefault("dist_s", []).append(t2 - t0)
        fails.check(not any(d in self.deleted for d, _ in res), f"deleted id returned for {q}")
        return t2 - t0

    def _commit(self, kind: str, fn, tracer, out: dict) -> float:
        before = file_sizes(self.dir) if tracer is not NULL_TRACER else None
        with tracer.op(kind, group=True) as op:
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
        if before is not None:
            after = file_sizes(self.dir)
            op["bytes_written"] = sum(s for p, s in after.items() if before.get(p) != s)
        out.setdefault(kind + "_s", []).append(dt)
        return dt

    def _calibrate(self) -> None:
        """CPU-speed samples, taken only once Spark runs no job and after a
        short pause, so that work the program leaves running after an
        operation returns does not slow the reference loop down."""
        tracker = self.env.spark.sparkContext.statusTracker()
        deadline = time.perf_counter() + 30.0
        while tracker.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.01)
        time.sleep(self.SETTLE_S)
        self.clock.sample(8)

    def one_cycle(self, fails: Failures, out: dict, tracer) -> float:
        """One cycle; returns its timed seconds."""
        from goobi_viewer_indexer_spark.plans import maintenance

        spark, seed = self.env.spark, self.env.seed
        self.cycle += 1
        self._calibrate()
        pdf = self._new_docs()
        new_df = spark.createDataFrame(pdf)
        idents = [tokens(c)[0] for c in pdf["content"]]
        user_bytes = int(sum(len(c.encode("utf-8")) for c in pdf["content"]))
        t = self._commit("add", lambda: maintenance.add_docs(
            spark, self.dir, new_df, text_col="content", tag=f"pb-add-{seed}-{self.cycle}"), tracer, out)
        self._calibrate()
        if tracer is not NULL_TRACER:
            self.window_added_bytes += user_bytes
        t += self._probe(lambda: bool(self.ls.search([idents[0]], k=2)), "visible_add", fails, out, tracer)
        self._calibrate()
        # each added doc is found by its own identifier token (the OR query
        # loads every identifier's postings; the single-term ones hit cache)
        found = self.ls.search(idents, k=2 * len(idents), mode="or")
        fails.check(len(found) == len(idents), f"added docs found {len(found)} != {len(idents)}")
        for ident in idents:
            hit = self.ls.search([ident], k=2)
            if fails.check(len(hit) == 1, f"identifier {ident} answered {hit}"):
                d = hit[0][0]
                self.live.add(d)
                self.doc_toks[d] = toks = tokens(pdf["content"][idents.index(ident)])
                for tok in set(toks[1:]):
                    self.df[tok] = self.df.get(tok, 0) + 1
        self.n_added += len(idents)
        t += self._queries(fails, out, tracer) + self._dist("search_or", fails, out, tracer)
        self._calibrate()

        cands = sorted(d for d in self.live if len(self.doc_toks[d]) > 1)
        ids = [int(x) for x in self.rng.choice(cands, size=self.size.delete_batch, replace=False)]
        t += self._commit("delete", lambda: maintenance.delete_docs(
            spark, self.dir, ids, tag=f"pb-del-{seed}-{self.cycle}"), tracer, out)
        self._calibrate()
        self.live.difference_update(ids)
        self.deleted.update(ids)
        for d in ids:
            toks = set(self.doc_toks[d][1:])
            for tok in toks:
                self.df[tok] -= 1
            # rarest token the file shares with a live one: answers are small
            self.probe_tok[d] = min((tok for tok in toks if self.df[tok] > 0), key=lambda x: (self.df[x], x))
        t += self._probe(lambda: self._gone(ids[0]), "visible_delete", fails, out, tracer)
        self._calibrate()
        for d in ids[1:]:
            fails.check(self._gone(d), f"deleted doc {d} still answered")
        expect = self.size.n_docs + self.n_added - len(self.deleted)
        fails.check(self.ls.index.n_live == expect, f"n_docs_live {self.ls.index.n_live} != {expect}")
        t += self._queries(fails, out, tracer) + self._dist("search_phrase", fails, out, tracer)
        self._calibrate()
        return t

    def run(self, seconds: float, fails: Failures, tracer=NULL_TRACER) -> dict:
        """Closed loop of cycles for ``seconds``, at least one; the op
        latency is the cycle's timed steps (checks excluded)."""
        out: dict = {"op_s": []}
        self.clock = CpuClock()
        t_end = time.perf_counter() + seconds
        tried = 0
        while time.perf_counter() < t_end or not tried:
            tried += 1
            try:
                out["op_s"].append(self.one_cycle(fails, out, tracer))
            except Exception:
                fails.error(f"cycle {self.cycle}")
        out["window_s"] = sum(out["op_s"])
        out["cpu_factor"] = self.clock.factor()
        return out

    def traced_tail(self, fails: Failures, tracer) -> dict:
        """Traced run only, after the measured cycles: one distributed call
        of each type, postings rows per hot term, then a compaction."""
        from goobi_viewer_indexer_spark.plans import maintenance
        from perfbench.trace import DIST_CALLS

        out: dict = {}
        for call in DIST_CALLS:
            self.dist_call(dist_query(self.rng, self.corpus, call), fails, out, tracer)
        terms = sorted({t for q in self.hot for t in tokens(q.text)})
        rows = self.ls.index.postings_for(terms).count()
        out["delta_rows_per_term"] = rows / max(1, len(terms))
        before = file_sizes(self.dir)
        with tracer.op("compact", group=True):
            t0 = time.perf_counter()
            maintenance.compact(self.env.spark, self.dir)
            out["compact_s"] = time.perf_counter() - t0
        after = file_sizes(self.dir)
        out["compact_bytes"] = sum(s for p, s in after.items() if before.get(p) != s)
        return out

    def check(self, fails: Failures) -> None:
        """After the cycles: every deleted id stays unanswered, the live
        count matches, and the base build's stats are right."""
        self.env.spark.catalog.refreshByPath(self.dir)
        for d in sorted(self.deleted):
            fails.check(self._gone(d), f"deleted doc {d} answered after the run")
        expect = self.size.n_docs + self.n_added - len(self.deleted)
        fails.check(self.ls.index.n_live == expect, f"n_docs_live {self.ls.index.n_live} != {expect}")
        build_checks(self.base_dir, self.corpus, self.size.n_docs, fails)


def build_flat(env, df, index_dir: str, tracer) -> None:
    """The flat SPIMI build every workload starts from (timed)."""
    from goobi_viewer_indexer_spark.plans.build import build_index

    with tracer.op("build"):
        t0 = time.perf_counter()
        build_index(df, index_dir, env.cfg(), text_col="content")
        env.timings["build_s"] = time.perf_counter() - t0


def build_checks(index_dir: str, corpus: Corpus, n_docs: int, fails: Failures) -> None:
    """The built index's stats: document count and mean analysed length."""
    from goobi_viewer_indexer_spark.plans.build import load_meta

    meta = load_meta(index_dir)
    fails.check(meta["n_docs"] == n_docs, f"n_docs {meta['n_docs']} != {n_docs}")
    avgdl = sum(len(t) for t in corpus.toks) / len(corpus.toks)
    fails.check(abs(meta["avgdl"] - avgdl) <= 1e-9 * avgdl, f"avgdl {meta['avgdl']} != {avgdl}")


WORKLOADS = {QueryLocal.name: QueryLocal, UpdateMixed.name: UpdateMixed}

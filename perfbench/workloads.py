"""The benchmark's workloads. Each drives the engine only through its public
functions, the way a user of that surface would.

A workload object has:

* ``load()``        — catalog / index set-up (part of ``setup_s``);
* ``warmup()``      — unmeasured passes (part of ``setup_s``);
* ``pass_ops(rng)`` — one measured pass: ``(kind, fn)`` pairs, the op
  kinds interleaved in a seeded order; ``fn()`` returns the output;
* ``after_op(kind)``— release between ops, outside the op's timer;
* ``expected()``    — oracle results the checks compare with (after timing);
* ``check(kind, out, expected)`` — problems with one op's output.

With ``layers`` set (the traced run) workloads also time the calls into
each engine layer and record them there; untraced runs skip that.
"""

from __future__ import annotations

import os
import shutil
import time

import checks

CLI_ROW_CAP = 100_000  # the CLI's take() cap


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


def _duck_rows(con, sql: str) -> list:
    return [tuple(r) for r in con.execute(sql).fetchall()]


class _Base:
    def __init__(self, spark, data_dir: str, truth: dict, layers: dict | None,
                 work_dir: str):
        self.spark, self.dir, self.truth, self.layers = spark, data_dir, truth, layers
        self.work = work_dir

    def _rec(self, name: str, value: float) -> None:
        if self.layers is not None:
            self.layers.setdefault(name, []).append(value)

    def after_op(self, kind: str) -> None:
        pass


class SqlInteractive(_Base):
    """The CLI path per query: run_sql -> take -> qualified_headers +
    ascii_table, over a reference-shaped CSV catalog."""

    #: nominal seconds of one measured pass on a 4-CPU host; a run
    #: measures round(seconds / PASS_S) passes (at least one), a count
    #: that does not depend on how fast the host happens to be
    PASS_S = 2.5

    def warmup(self) -> None:
        import numpy as np

        for i in range(2):
            for _kind, fn in self.pass_ops(np.random.default_rng([0, i])):
                fn()

    def load(self) -> None:
        from minisql_engine_spark.sources import load_csv_database

        t0 = time.perf_counter()
        load_csv_database(self.spark, self.dir)
        self._rec("sources.load_ms", _ms(t0))

    def _query(self, text: str):
        from minisql_engine_spark.format import ascii_table, qualified_headers
        from minisql_engine_spark.plans import rewrite_query, run_sql

        if self.layers is None:
            df = run_sql(self.spark, text)
            rows = df.take(CLI_ROW_CAP + 1)
            headers = qualified_headers(df)
            return headers, rows, ascii_table(headers, rows[:CLI_ROW_CAP])
        t0 = time.perf_counter()
        rewrite_query(text)
        self._rec("plans.rewrite_query_us", _ms(t0) * 1e3)
        t0 = time.perf_counter()
        df = run_sql(self.spark, text)
        self._rec("plans.run_sql_ms", _ms(t0))
        rows = df.take(CLI_ROW_CAP + 1)
        t0 = time.perf_counter()
        headers = qualified_headers(df)
        self._rec("format.qualified_headers_ms", _ms(t0))
        t0 = time.perf_counter()
        text_out = ascii_table(headers, rows[:CLI_ROW_CAP])
        self._rec("format.ascii_table_ms", _ms(t0))
        return headers, rows, text_out

    def pass_ops(self, rng):
        qs = self.truth["queries"]
        return [(qs[i]["kind"], lambda q=qs[i]: (q, self._query(q["text"])))
                for i in rng.permutation(len(qs))]

    def expected(self) -> dict:
        """DuckDB's rows for every query's ANSI twin, over the same CSVs."""
        import duckdb

        con = duckdb.connect()
        for t, cols in self.truth["schema"].items():
            spec = ", ".join(f"'{c}': 'BIGINT'" for c in cols)
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                f"'{os.path.join(self.dir, t + '.csv')}', header=false, "
                f"columns={{{spec}}})"
            )
        return {q["text"]: _duck_rows(con, q["ansi"]) for q in self.truth["queries"]}

    def check(self, kind, out, expected) -> list[str]:
        q, (headers, rows, grid) = out
        return checks.sql_output_problems(
            q["text"], self.truth["schema"], headers, rows, grid, expected[q["text"]])


class CurationBatch(_Base):
    """The LLM curation funnel, MinHash-LSH dedup and semantic dedup
    over a planted corpus; each op is forced with collect() and its
    cached intermediates released with clearCache() outside the timer."""

    def load(self) -> None:
        from minisql_engine_spark.sources import load_tables

        t0 = time.perf_counter()
        t = load_tables(self.spark, self.dir, ("documents", "embeddings"))
        self.docs, self.emb = t["documents"], t["embeddings"]
        self._rec("sources.load_ms", _ms(t0))

    def _funnel(self):
        from minisql_engine_spark.pipeline import llm_curation_funnel

        return llm_curation_funnel(self.docs).collect()[0].asDict()

    def _minhash(self):
        from minisql_engine_spark.operators.dedup import minhash_lsh_dedup

        return [tuple(r) for r in minhash_lsh_dedup(self.docs).collect()]

    def _semdedup(self):
        from minisql_engine_spark.operators.semdedup import semantic_dedup

        return [tuple(r) for r in semantic_dedup(self.emb).collect()]

    def pass_ops(self, rng):
        # A run affords one measured pass of these seconds-long ops. Their
        # latency depends on how warm the JVM is when they run (the
        # funnel took 18.5 s as the first op after a MinHash-only
        # warm-up, 13.6 s later in the pass), so a seeded order would
        # move cost between kinds from seed to seed. The workload
        # keeps one fixed order.
        return [("cur_minhash", self._minhash), ("cur_funnel", self._funnel),
                ("cur_semdedup", self._semdedup)]

    def after_op(self, kind: str) -> None:
        self.spark.catalog.clearCache()

    def warmup(self) -> None:
        # The warm-up compiles the JVM paths these ops run: after a
        # MinHash-only warm-up a pass used 29-37 CPU-s per op. The three
        # ops warm up concurrently, which takes about the longest op's
        # cold latency instead of their sum.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(fn) for _kind, fn in self.pass_ops(None)]
            for f in futures:
                f.result()
        self.after_op("warmup")

    def expected(self) -> dict:
        import duckdb

        from minisql_engine_spark.pipeline import llm_curation_funnel_sql

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(self.dir, 'documents.parquet')}')"
        )
        cur = con.execute(llm_curation_funnel_sql("documents"))
        names = [d[0] for d in cur.description]
        return {"funnel": dict(zip(names, cur.fetchone()))}

    def check(self, kind, out, expected) -> list[str]:
        if kind == "cur_funnel":
            return checks.funnel_problems(out, self.truth, expected["funnel"])
        if kind == "cur_minhash":
            return checks.minhash_problems(
                out, self.truth["exact_pairs"], self.truth["family"])
        return checks.semdedup_problems(out, self.truth["vec_group"])


class StreamIngest(_Base):
    """Streaming admission of a drop folder, one file per trigger, into
    a snapshot table against a content-key index; then timed reads and
    a full replay under a fresh checkpoint. Every pass starts from the
    same fresh state, so the state grows the same way in every pass."""

    READS = ("stream_read_latest", "stream_read_version", "stream_read_agg")
    READ_REPEATS = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_round = 0

    def load(self) -> None:
        from minisql_engine_spark.sources import load_tables

        t0 = time.perf_counter()
        self.seed_df = load_tables(self.spark, self.dir, ("seed",))["seed"]
        self._rec("sources.load_ms", _ms(t0))
        self.schema = self.seed_df.schema

    def _fresh(self, tag: str) -> dict:
        from minisql_engine_spark.operators.dedup_index import init_dedup_index

        base = os.path.join(self.work, tag)
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        paths = {k: os.path.join(base, k) for k in ("index", "table", "ck1", "ck2")}
        init_dedup_index(self.seed_df, paths["index"])
        return paths

    def _stream(self, drop: str, p: dict, ckpt: str):
        from minisql_engine_spark.streaming.ingest import stream_admit_snapshot

        src = (self.spark.readStream.schema(self.schema)
               .option("maxFilesPerTrigger", 1).parquet(drop))
        q = stream_admit_snapshot(src, p["index"], p["table"], ckpt,
                                  constraints=["doc_id IS NOT NULL"])
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q.recentProgress

    def _admit(self, drop, p):
        progress = self._stream(drop, p, p["ck1"])
        if self.layers is not None:
            for pr in progress:
                d = pr.durationMs if hasattr(pr, "durationMs") else pr["durationMs"]
                for key, name in (("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                                  ("queryPlanning", "query_planning_ms"),
                                  ("triggerExecution", "trigger_ms")):
                    if key in d:
                        self._rec(f"streaming.{name}", float(d[key]))
        return None

    def _read(self, kind, p):
        from minisql_engine_spark.sources import read_snapshot

        if kind == "stream_read_latest":
            t0 = time.perf_counter()
            out = [r[0] for r in read_snapshot(self.spark, p["table"])
                   .select("content_id").collect()]
            self._rec("sources.read_snapshot_ms", _ms(t0))
            return out
        if kind == "stream_read_version":
            return read_snapshot(self.spark, p["table"], version=1).count()
        return [tuple(r) for r in read_snapshot(self.spark, p["table"])
                .groupBy("lang").count().collect()]

    def _replay(self, drop, p):
        from minisql_engine_spark.sources import read_snapshot
        from minisql_engine_spark.sources.snapshots import current_version

        v0, n0 = current_version(p["table"]), read_snapshot(self.spark, p["table"]).count()
        self._stream(drop, p, p["ck2"])
        return v0, n0, p

    def _round(self, rng, drop: str, tag: str):
        p = self._fresh(tag)
        reads = [k for k in self.READS for _ in range(self.READ_REPEATS)]
        ops = [("stream_admit", lambda: self._admit(drop, p))]
        ops += [(reads[i], lambda k=reads[i]: self._read(k, p))
                for i in rng.permutation(len(reads))]
        ops.append(("stream_replay", lambda: self._replay(drop, p)))
        return ops

    def warmup(self) -> None:
        import numpy as np

        for _kind, fn in self._round(np.random.default_rng(0),
                                     os.path.join(self.dir, "warm_drop"), "warm"):
            fn()

    def pass_ops(self, rng):
        self.n_round += 1
        return self._round(rng, os.path.join(self.dir, "drop"), f"round{self.n_round}")

    def expected(self) -> dict:
        return {}

    def _settle(self, out) -> list[str]:
        """After a replay (outside the timer): read back the state the
        round built and check it."""
        from minisql_engine_spark.operators.dedup_index import index_stats
        from minisql_engine_spark.sources import read_snapshot
        from minisql_engine_spark.sources.snapshots import current_version

        v0, n0, p = out
        v1, n1 = current_version(p["table"]), read_snapshot(self.spark, p["table"]).count()
        n_keys = int(index_stats(self.spark, p["index"]).collect()[0]["n_keys"])
        if self.layers is not None:
            files = nbytes = 0
            for sub in ("index", "table"):
                for root, _dirs, names in os.walk(p[sub]):
                    for n in names:
                        if not n.startswith((".", "_")):
                            files += 1
                            nbytes += os.path.getsize(os.path.join(root, n))
            self._rec("sources.files_written", files)
            self._rec("sources.bytes_on_disk_per_input_byte", nbytes / self.truth["drop_bytes"])
        return checks.ingest_state_problems(n_keys, n1, self.truth, (v0, v1), (n0, n1))

    def check(self, kind, out, expected) -> list[str]:
        if kind == "stream_read_latest":
            return checks.admitted_problems(out, self.truth)
        if kind == "stream_read_version":
            return checks.version_problems(out, self.truth)
        if kind == "stream_read_agg":
            return checks.lang_agg_problems(out, self.truth)
        if kind == "stream_replay":
            return self._settle(out)
        return []


class CurationIngest:
    """The curation pass, then a streaming admission round, in one
    process. Both halves are seconds-long, job-bound ops in a JVM that
    must first be warmed up; sharing one session and one start-up is
    what lets the benchmark keep both within its run-time budget."""

    PASS_S = 30.0  # see SqlInteractive.PASS_S

    def __init__(self, spark, data_dir, truth, layers, work_dir):
        self.cur = CurationBatch(spark, data_dir, truth["curation"], layers, work_dir)
        self.stream = StreamIngest(spark, data_dir, truth["stream"], layers, work_dir)

    def _part(self, kind: str):
        return self.cur if kind.startswith("cur_") else self.stream

    def load(self) -> None:
        self.cur.load()
        self.stream.load()

    def warmup(self) -> None:
        self.cur.warmup()
        self.stream.warmup()

    def pass_ops(self, rng):
        return self.cur.pass_ops(rng) + self.stream.pass_ops(rng)

    def after_op(self, kind: str) -> None:
        self._part(kind).after_op(kind)

    def expected(self) -> dict:
        return {"cur": self.cur.expected(), "stream": self.stream.expected()}

    def check(self, kind, out, expected) -> list[str]:
        part = self._part(kind)
        return part.check(kind, out, expected["cur" if part is self.cur else "stream"])


WORKLOADS = {
    "sql_interactive": SqlInteractive,
    "curation_ingest": CurationIngest,
}

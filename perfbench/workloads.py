"""The four workloads. Each is driven by one closed-loop client: the next
operation starts only after the previous one has returned.

A workload exposes:

- `prepare()`: load what its checks need (runs before the session starts,
  so it is not set-up time);
- `setup()`: the workload's own set-up on a started session;
- `op(i)`: operation i, returning how many items it handled (log lines,
  documents or query vectors). Operation 0 is the warm-up;
- `check(i)`: the independent check of operation i's output;
- `side(i)`: traced runs only, per-layer measurements made after the
  operation's timed window;
- `layer_metrics()`: traced runs only, the per-layer figures;
- `close()`.

Only public functions of `elb_log_to_mysql_spark` are called.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from pathlib import Path

import checks
import gen

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    round_ops = 1  # a run times whole rounds of this many operations

    def __init__(self, manifest: dict, run_dir: Path, nproc: int):
        self.m = manifest
        self.run_dir = run_dir
        self.nproc = nproc
        self.spark = None
        self.tracer = None

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        pass

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        return []

    def side(self, i: int) -> None:
        pass

    def extra_groups(self) -> list[str]:
        return []

    def layer_metrics(self) -> dict:
        return {}

    def close(self) -> None:
        pass

    def span(self, name: str):
        return self.tracer.span(name)

    def timed_persist_count(self, name: str, frame):
        """Traced runs: materialise a lazy frame at a layer boundary."""
        with self.span(name):
            frame = frame.persist()
            frame.count()
        return frame


# -----------------------------------------------------------------------------
class AlbIngest(Workload):
    """One delivery of gz ALB files: parse, idempotent JDBC load into
    embedded Derby, read-back of per-file aggregates from the sink."""

    name = "alb_ingest"

    def setup(self) -> None:
        from elb_log_to_mysql_spark.sinks import jdbc as jdbc_mod

        self.url = f"jdbc:derby:{self.run_dir / 'derby' / 'db'};create=true"
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY_DRIVER)
        self.delivered: set[str] = set()
        self.last_files: list[str] = []
        self.readback: dict = {}
        self.rows_appended: list[int] = []
        self.defer_parse_s: list[float] = []
        self._patched = []
        if self.tracer.on:
            # Spans around the sink's own steps: write_jdbc_idempotent
            # looks these up as module globals when it runs.
            for attr, span in (("distinct_source_files", "sinks.jdbc.lineage_keys"),
                               ("jdbc_delete_files", "sinks.jdbc.delete"),
                               ("write_jdbc", "sinks.jdbc.append")):
                orig = getattr(jdbc_mod, attr)
                self._patched.append((jdbc_mod, attr, orig))
                setattr(jdbc_mod, attr, self._spanned(span, orig))

    def _spanned(self, name, fn):
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapped

    def _query(self, sql: str) -> list[tuple]:
        con = self.spark._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = con.createStatement()
            rs = st.executeQuery(sql)
            n = rs.getMetaData().getColumnCount()
            out = []
            while rs.next():
                out.append(tuple(rs.getString(c + 1) for c in range(n)))
            return out
        finally:
            con.close()

    def _delivery(self, i: int) -> list[str]:
        d = self.m["schedule"][i % len(self.m["schedule"])]
        return d["new"] + d["resent"]

    def op(self, i: int) -> int:
        from elb_log_to_mysql_spark.sinks.jdbc import write_jdbc_idempotent
        from elb_log_to_mysql_spark.sources.alb import read_alb_logs

        names = self._delivery(i)
        paths = [os.path.join(self.m["log_dir"], n) for n in names]
        with self.span("sources.alb.read"):
            df = read_alb_logs(self.spark, paths)
        if self.tracer.on:
            with self.span("sources.alb.parse"):
                df = df.persist()
                self.rows_appended.append(df.count())
        with self.span("sinks.jdbc.write_idempotent"):
            write_jdbc_idempotent(df, self.url, driver=DERBY_DRIVER, num_partitions=self.nproc)
        if self.tracer.on:
            df.unpersist()
        with self.span("sinks.jdbc.readback"):
            rows = self._query(
                'SELECT "log_source_file", COUNT(*), SUM("sent_bytes"), SUM("received_bytes") '
                'FROM elb_log_data GROUP BY "log_source_file"')
        self.readback = {os.path.basename(r[0]): tuple(int(x) for x in r[1:]) for r in rows}
        self.delivered.update(names)
        self.last_files = names
        return sum(self.m["files"][n]["n_valid"] for n in names)

    def check(self, i: int) -> list[str]:
        status = {r[0]: int(r[1]) for r in self._query(
            'SELECT "elb_status_code", COUNT(*) FROM elb_log_data GROUP BY "elb_status_code"')}
        method = {r[0]: int(r[1]) for r in self._query(
            'SELECT CAST("http_method" AS VARCHAR(32)) AS m, COUNT(*) FROM elb_log_data GROUP BY '
            'CAST("http_method" AS VARCHAR(32))')}
        want = {p: ts for n in self.last_files for p, ts in self.m["files"][n]["samples"]}
        # String columns land as CLOB, which Derby compares only after a cast.
        quoted = ",".join("'" + p + "'" for p in want)
        got = {r[0]: r[1] for r in self._query(
            f'SELECT CAST("requested_path" AS VARCHAR(200)), CAST("log_timestamp" AS VARCHAR(40)) '
            f'FROM elb_log_data WHERE CAST("requested_path" AS VARCHAR(200)) IN ({quoted})')}
        return checks.check_alb_sink(self.m["files"], self.delivered, self.readback, status, method, got, want)

    def side(self, i: int) -> None:
        """Parse the same delivery with UA classification deferred, so
        classification time is the difference to the full parse."""
        from elb_log_to_mysql_spark.sources.alb import parse_alb_lines

        paths = [os.path.join(self.m["log_dir"], n) for n in self._delivery(i)]
        frame = parse_alb_lines(self.spark.read.text(paths), ua_strategy="defer")
        t = time.perf_counter()
        frame = frame.persist()
        frame.count()
        self.defer_parse_s.append(time.perf_counter() - t)
        frame.unpersist()

    def layer_metrics(self) -> dict:
        tr = self.tracer
        parse = _median(tr.layer_times("sources.alb.parse"))
        append = tr.layer_times("sinks.jdbc.append")
        return {
            "sources.alb.parse_s": parse,
            "functions.ua.classify_s": parse - _median(self.defer_parse_s),
            "sinks.jdbc.delete_s": _median(tr.layer_times("sinks.jdbc.delete")),
            "sinks.jdbc.append_s": _median(append),
            "sinks.jdbc.rows_per_s": sum(self.rows_appended[1:]) / sum(append) if append else 0.0,
        }

    def close(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)


# -----------------------------------------------------------------------------
def _shingle_and_sign(w: Workload, docs) -> None:
    """Traced runs: the first two layers of the MinHash path, run on
    their own at their boundaries: shingle hashing, then the signer."""
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.functions.vectorops import minhash_sig_rows
    from elb_log_to_mysql_spark.operators.dedup import word_shingles
    from elb_log_to_mysql_spark.session import ensure_min_partitions

    sh = ensure_min_partitions(docs).select(
        F.col("doc_id"),
        F.transform(word_shingles("text", 3), lambda s: F.xxhash64(s)).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    sh = w.timed_persist_count("operators.dedup.shingle", sh)
    sig = w.timed_persist_count("functions.vectorops.minhash", minhash_sig_rows(sh, 64))
    sig.unpersist()
    sh.unpersist()


class CorpusDedup(Workload):
    """near_dedup_minhash, then ngram_jaccard_pairs, over one corpus."""

    name = "corpus_dedup"

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(self.m["docs"]).to_pydict()
        self.shingles = checks.ShingleCache(dict(zip(t["doc_id"], t["text"])))
        self.truth = [tuple(p) for p in self.m["truth_pairs"]]

    def setup(self) -> None:
        self.docs = self.spark.read.parquet(self.m["docs"])

    def op(self, i: int) -> int:
        from elb_log_to_mysql_spark.operators.dedup import near_dedup_minhash, ngram_jaccard_pairs

        with self.span("operators.dedup.minhash_lsh"):
            self.mh = [tuple(r) for r in near_dedup_minhash(self.docs, threshold=0.6).collect()]
        with self.span("operators.dedup.exact_jaccard"):
            self.ex = [tuple(r) for r in ngram_jaccard_pairs(self.docs, threshold=0.6).collect()]
        return self.m["n_docs"]

    def check(self, i: int) -> list[str]:
        return checks.check_corpus_dedup(self.mh, self.ex, self.truth, self.shingles)

    def side(self, i: int) -> None:
        _shingle_and_sign(self, self.docs)

    def layer_metrics(self) -> dict:
        tr = self.tracer
        return {
            "operators.dedup.shingle_s": _median(tr.layer_times("operators.dedup.shingle")),
            "functions.vectorops.minhash_s": _median(tr.layer_times("functions.vectorops.minhash")),
            "operators.dedup.minhash_lsh_s": _median(tr.layer_times("operators.dedup.minhash_lsh")),
            "operators.dedup.exact_jaccard_s": _median(tr.layer_times("operators.dedup.exact_jaccard")),
            "operators.dedup.exact_jaccard.shuffle_write_mb":
                tr.layer_stage_sum("operators.dedup.exact_jaccard", "shuffle_write_mb"),
        }


# -----------------------------------------------------------------------------
class VectorSearch(Workload):
    """One top-10 request against an IVF index built once in set-up. A
    round is three requests: one, at a seeded position, carries 16 query
    vectors, the other two one each."""

    name = "vector_search"
    round_ops = 3

    def request_size(self, i: int) -> int:
        if i == 0:
            return 1  # warm-up
        return 16 if (i - 1) % self.round_ops == self.m["seed"] % self.round_ops else 1

    def prepare(self) -> None:
        import numpy as np

        self.corpus = np.load(self.m["corpus_npy"])
        self.corpus_ids = np.arange(len(self.corpus))

    def setup(self) -> None:
        from elb_log_to_mysql_spark.operators.similarity import build_ivf_index

        self.emb = self.spark.read.parquet(self.m["embeddings"])
        with self.span("operators.similarity.index_build"):
            self.index = build_ivf_index(self.emb)

    def op(self, i: int) -> int:
        from elb_log_to_mysql_spark.operators.similarity import similarity_topk_ivf_auto

        n = self.request_size(i)
        ids, q = gen.query_vectors(self.m["seed"], i, n)
        rows = [(qid, [float(x) for x in v]) for qid, v in zip(ids, q)]
        with self.span(f"operators.similarity.request_{n}"):
            qdf = self.spark.createDataFrame(rows, "vec_id long, embedding array<double>")
            out = similarity_topk_ivf_auto(self.emb, qdf, k=10, index=self.index).collect()
        self.last = (out, ids, q)
        return n

    def check(self, i: int) -> list[str]:
        out, ids, q = self.last
        rows = [(r["query_id"], r["neighbor_id"], r["rank"], r["cos"]) for r in out]
        return checks.check_topk(rows, ids, self.corpus, self.corpus_ids, q, k=10)

    def layer_metrics(self) -> dict:
        tr = self.tracer
        return {
            "operators.similarity.index_build_s": _median(tr.layer_times("operators.similarity.index_build")),
            "operators.similarity.request_1_s": _median(tr.layer_times("operators.similarity.request_1")),
            "operators.similarity.request_16_s": _median(tr.layer_times("operators.similarity.request_16")),
        }

    def close(self) -> None:
        self.index["corpus"].unpersist()


# -----------------------------------------------------------------------------
class StreamDedup(Workload):
    """One document drop lands in the watched directory; the stream
    turns it into LSH candidates and a foreachBatch verifier commits the
    verified pairs. The next drop lands after this one is committed."""

    name = "stream_dedup"
    SCHEMA = "doc_id long, text string"

    def prepare(self) -> None:
        self.vocab = gen.vocabulary(self.m["seed"])
        self.shingles = checks.ShingleCache({})
        self.families: dict[int, list[int]] = {}
        self.truth_cache: dict = {}
        self.staged: dict[int, Path] = {}
        self.verify_s: list[float] = []
        self.candidates: list[int] = []
        self.batches: list[dict] = []

    def setup(self) -> None:
        from elb_log_to_mysql_spark.streaming.neardedup import stream_band_collisions

        base = self.run_dir / "stream"
        self.src, self.out, self.staging = base / "src", base / "out", base / "staging"
        for d in (self.src, self.out, self.staging):
            d.mkdir(parents=True, exist_ok=True)
        stream = (self.spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(str(self.src)))
        cands = stream_band_collisions(stream)
        self.query = (cands.writeStream.foreachBatch(self._verify_batch)
                      .option("checkpointLocation", str(base / "checkpoint")).start())
        self.stage(0)

    def _verify_batch(self, batch, batch_id: int) -> None:
        from elb_log_to_mysql_spark.streaming.neardedup import verify_candidate_pairs

        t = time.perf_counter()
        batch = batch.persist()  # read twice by the verifier; recompute would rerun the state update
        if self.tracer.on:
            # Materialise the candidates first, so the state update is
            # not counted as verification.
            self.candidates.append(batch.count())
            t = time.perf_counter()
        landed = self.spark.read.schema(self.SCHEMA).parquet(str(self.src))
        verify_candidate_pairs(batch, landed, threshold=0.6).write.mode("append").parquet(
            str(self.out / f"batch-{batch_id:06d}"))
        batch.unpersist()
        self.verify_s.append(time.perf_counter() - t)

    def stage(self, k: int) -> None:
        """Make drop k ready to land (outside the timed window)."""
        path, ids, texts, fams = gen.stream_drop_file(self.m, k, self.vocab)
        staged = self.staging / path.name
        shutil.copyfile(path, staged)
        self.staged[k] = staged
        self.shingles.add(ids, texts)
        for doc, fam in fams.items():
            self.families.setdefault(fam, []).append(doc)

    def op(self, i: int) -> int:
        staged = self.staged.pop(i)
        with self.span("streaming.neardedup.batch"):
            os.rename(staged, self.src / staged.name)
            self.query.processAllAvailable()
        return gen.STREAM_DROP_DOCS

    def check(self, i: int) -> list[str]:
        import pyarrow.dataset as ds

        if any(self.out.iterdir()):
            t = ds.dataset(str(self.out), format="parquet").to_table().to_pydict()
            pairs = list(zip(t["doc_id_a"], t["doc_id_b"], t["jaccard"]))
        else:
            pairs = []
        truth = checks.stream_truth_pairs(self.families, self.shingles, self.truth_cache)
        problems = checks.check_stream_dedup(pairs, truth, self.shingles)
        self.stage(i + 1)
        return problems

    def extra_groups(self) -> list[str]:
        return [str(self.query.runId)]

    def side(self, i: int) -> None:
        self.batches.extend(p for p in self.query.recentProgress
                            if p["batchId"] not in {b["batchId"] for b in self.batches})
        drop = self.spark.read.parquet(str(self.src / f"drop-{i:05d}.parquet"))
        _shingle_and_sign(self, drop)

    def layer_metrics(self) -> dict:
        tr = self.tracer
        timed = [b for b in self.batches if b["numInputRows"] > 0][1:]  # drop the warm-up batch
        ops = [b.get("stateOperators") or [] for b in timed]
        return {
            "operators.dedup.shingle_s": _median(tr.layer_times("operators.dedup.shingle")),
            "functions.vectorops.minhash_s": _median(tr.layer_times("functions.vectorops.minhash")),
            "streaming.neardedup.batch_s": _median([b["durationMs"]["triggerExecution"] / 1e3 for b in timed]),
            "streaming.state.commit_s": _median([sum(s["commitTimeMs"] for s in o) / 1e3 for o in ops]),
            "streaming.state.memory_mb": max([sum(s["memoryUsedBytes"] for s in o) / 2**20 for o in ops],
                                             default=0.0),
            "streaming.progress.planning_s": _median([b["durationMs"].get("queryPlanning", 0) / 1e3
                                                      for b in timed]),
            "streaming.neardedup.candidates_per_batch": statistics.fmean(self.candidates[1:])
            if len(self.candidates) > 1 else 0.0,
            "streaming.neardedup.verify_s": _median(self.verify_s[1:]),
        }

    def close(self) -> None:
        self.query.stop()


WORKLOADS = {w.name: w for w in (AlbIngest, CorpusDedup, VectorSearch, StreamDedup)}

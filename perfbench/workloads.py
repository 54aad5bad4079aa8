"""The benchmark's workloads.

Each workload generates its inputs from the seed, builds the operations
of one pass in a seeded order, and checks every output after the timed
region. One operation is one call of ``run_op``:

- ``analyst`` (sf0.01): one entry slot, built through
  ``__spark_entry__.queries()`` and collected with ``toPandas()``.
  baloo's own user: a pandas replacement that evaluates each step to
  the driver. At this size plan construction, eager jobs and job
  scheduling dominate, so ``core`` and ``driver`` changes show here
  and execution-kernel changes do not.
- ``corpus`` (sf0.01 documents): one crawl drop through the fingerprint
  store read, ``incremental_dedup``, ``quality_pipeline`` and
  ``chunk_documents``, then appends to the corpus and the store. The
  only workload that writes, and its state grows with every drop, so
  a change that trades reads for materialization, or that slows the
  write path, shows here; ``driver`` changes do not.
"""

from __future__ import annotations

import hashlib
import os
import random
import re

ANALYST_SF = "0.01"
ANALYST_SLOTS = [
    "q1_pricing_summary", "groupby_stats", "drop_duplicates_min",
    "merge_inner_left", "setitem_align", "str_ops", "reshape_ops",
    "describe", "window_topk",
]

CORPUS_SF = "0.01"
CORPUS_DROPS = 2
RECRAWL_SHARE = 0.1
RECRAWL_ID_BASE = 10_000_000


def _py(v):
    """A ``toPandas()`` cell as the Python value a ``Row`` would hold."""
    import numpy as np
    import pandas as pd

    if isinstance(v, np.ndarray):
        return [_py(x) for x in v]
    if v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        return v.item()
    return v


class Collected:
    """A timed ``toPandas()`` result, read the way check_oracle.compare
    reads a Spark DataFrame."""

    def __init__(self, pdf):
        self.pdf = pdf
        self.columns = list(pdf.columns)

    def collect(self):
        return [tuple(_py(v) for v in row)
                for row in self.pdf.itertuples(index=False, name=None)]


class Analyst:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.testdata, f"sf{ANALYST_SF}")
        self.qs = ctx.entry.queries()
        self.last: dict = {}
        self.shapes: dict = {s: set() for s in ANALYST_SLOTS}

    def prepare(self):
        pass

    def register(self):
        """Warm the entry module's per-session schema memo, so no slot
        build pays schema inference."""
        for t in self.ctx.oracle.TABLES:
            self.ctx.entry._t(self.ctx.spark, self.sf_dir, t)

    def op_key(self, pass_no: int, slot: str) -> str:
        return slot

    def pass_ops(self, rng: random.Random, pass_no: int) -> list[str]:
        order = list(ANALYST_SLOTS)
        rng.shuffle(order)
        return order

    def run_op(self, slot: str):
        tr = self.ctx.tracer
        with tr.span("core.build", slot=slot):
            sdf = self.qs[slot](self.ctx.spark, self.sf_dir)
        with tr.span("driver.collect", slot=slot) as sp:
            pdf = sdf.toPandas()
            if sp is not None:
                sp["rows"] = len(pdf)
        self.last[slot] = pdf
        self.shapes[slot].add((tuple(pdf.columns), len(pdf)))

    def check(self) -> dict[str, list[str]]:
        """Compare each slot's last timed output with its
        ``oracle_sql()`` replay on DuckDB, and require every timed output
        of the slot to have the same columns and row count."""
        import duckdb

        oracles = self.ctx.entry.oracle_sql()
        problems = {}
        with duckdb.connect() as con:
            for t in self.ctx.oracle.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for slot in ANALYST_SLOTS:
                if len(self.shapes[slot]) != 1:
                    problems[slot] = [f"timed outputs: {self.shapes[slot]}"]
                    continue
                try:
                    cur = con.execute(oracles[slot])
                    cols = [d[0] for d in cur.description]
                    bad = self.ctx.oracle.compare(
                        slot, Collected(self.last[slot]), cur.fetchall(),
                        cols)
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    bad = [f"{type(exc).__name__}: {str(exc)[:300]}"]
                if bad:
                    problems[slot] = bad
        return problems


def _normalize(text: str) -> str:
    """Python replay of incremental_dedup's content key:
    ``lower(regexp_replace(trim(text), '\\s+', ' '))``."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ")).lower()


class Corpus:
    def __init__(self, ctx):
        self.ctx = ctx
        self.docs_path = os.path.join(ctx.testdata, f"sf{CORPUS_SF}",
                                      "documents.parquet")
        self.drop_paths: list[str] = []
        self.pass_dirs: list[str] = []

    def register(self):
        for path in self.drop_paths:
            self.ctx.spark.read.parquet(path).schema

    def prepare(self):
        """Split the documents into crawl drops by a seeded hash; each
        later drop also re-crawls a seeded share of earlier documents
        under new ids. Writes the drops as parquet for the program."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs = pq.read_table(self.docs_path, columns=["doc_id", "text"])
        ids = docs.column("doc_id").to_pylist()
        texts = docs.column("text").to_pylist()
        salt = f"corpus:{self.ctx.seed}"

        def bucket(doc_id):
            h = hashlib.blake2b(f"{salt}:{doc_id}".encode(), digest_size=8)
            return int.from_bytes(h.digest(), "little") % CORPUS_DROPS

        rng = random.Random(salt)
        split = [[] for _ in range(CORPUS_DROPS)]
        for doc_id, text in zip(ids, texts):
            split[bucket(doc_id)].append((doc_id, text))
        self.drop_docs = []
        earlier = []
        for k, rows in enumerate(split):
            recrawl = rng.sample(earlier, int(len(earlier) * RECRAWL_SHARE))
            rows = rows + [(RECRAWL_ID_BASE * k + d, t) for d, t in recrawl]
            earlier += split[k]
            path = os.path.join(self.ctx.work, f"drop{k}.parquet")
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string())}), path)
            self.drop_paths.append(path)
            self.drop_docs.append(rows)

    def pass_ops(self, rng: random.Random, pass_no: int) -> list[int]:
        base = os.path.join(self.ctx.work, f"pass{pass_no}")
        self.pass_dirs.append(base)
        self._base = base
        return list(range(CORPUS_DROPS))

    def run_op(self, k: int):
        from pyspark.sql import functions as F

        import baloo_spark as bl
        from baloo_spark.io import read_parquet
        from baloo_spark.operators.chunking import chunk_documents
        from baloo_spark.operators.dedup import incremental_dedup
        from baloo_spark.streaming.docs import quality_pipeline

        tr = self.ctx.tracer
        store = os.path.join(self._base, "store")
        corpus = os.path.join(self._base, "corpus")
        with tr.span("io.read", drop=k):
            drop = read_parquet(self.drop_paths[k]).to_spark()
            seen = (read_parquet(store).to_spark()
                    if os.path.isdir(store) else None)
        with tr.span("operators.build", fn="incremental_dedup"):
            survivors, _ = incremental_dedup(drop, seen)
            # one materialization feeds the corpus and the store, as in
            # examples/incremental_crawl_dedup.py
            survivors = survivors.localCheckpoint()
            novel = drop.join(
                survivors.select(F.col("keep_id").alias("doc_id")),
                "doc_id", "left_semi")
        with tr.span("operators.build", fn="quality_pipeline"):
            kept = quality_pipeline(novel)
        with tr.span("operators.build", fn="chunk_documents"):
            chunks = chunk_documents(kept)
        with tr.span("io.write", path=corpus):
            bl.DataFrame.from_spark(chunks.withColumn("drop", F.lit(k))) \
                .to_parquet(corpus, mode="append")
        with tr.span("io.write", path=store):
            bl.DataFrame.from_spark(
                survivors.select("fingerprint").withColumn("drop", F.lit(k))) \
                .to_parquet(store, mode="append")

    def _replay(self):
        """Expected state per drop: a Python replay of the dedup (the
        first drop holding a content keeps its smallest id) and ONE
        batch run of quality_pipeline + chunk_documents over all kept
        documents."""
        from baloo_spark.operators.chunking import chunk_documents
        from baloo_spark.streaming.docs import quality_pipeline

        seen, kept_drop, fps = set(), {}, []
        texts = {}
        for k, rows in enumerate(self.drop_docs):
            first = {}
            for doc_id, text in rows:
                key = _normalize(text)
                if key in seen:
                    continue
                if key not in first or doc_id < first[key][0]:
                    first[key] = (doc_id, text)
            seen.update(first)
            fps.append(sorted(hashlib.md5(key.encode()).hexdigest()
                              for key in first))
            for doc_id, text in first.values():
                kept_drop[doc_id] = k
                texts[doc_id] = text
        spark = self.ctx.spark
        docs = spark.createDataFrame(
            sorted(texts.items()), "doc_id LONG, text STRING")
        rows = chunk_documents(quality_pipeline(docs)).collect()
        chunks = [[] for _ in range(CORPUS_DROPS)]
        for r in rows:
            chunks[kept_drop[r.doc_id]].append(tuple(r))
        return fps, [sorted(c) for c in chunks]

    def op_key(self, pass_no: int, k: int) -> str:
        return f"pass{pass_no}/drop{k}"

    def check(self) -> dict[str, list[str]]:
        """Per drop of every pass: the store holds exactly the drop's
        novel contents (so, over all drops, one row per distinct
        normalized content), and the corpus holds exactly the chunks a
        one-shot batch replay gives for the documents the drop kept."""
        spark = self.ctx.spark
        keys = [[self.op_key(p, k) for k in range(CORPUS_DROPS)]
                for p in range(len(self.pass_dirs))]
        try:
            fps, chunks = self._replay()
        except Exception as exc:  # noqa: BLE001 - counted as failed
            msg = [f"replay: {type(exc).__name__}: {str(exc)[:300]}"]
            return {key: msg for row in keys for key in row}
        problems = {}
        for p, base in enumerate(self.pass_dirs):
            try:
                store = spark.read.parquet(os.path.join(base, "store")) \
                    .collect()
                corpus = spark.read.parquet(os.path.join(base, "corpus")) \
                    .select("doc_id", "chunk_seq", "chunk_text",
                            "chunk_n_tokens", "drop").collect()
            except Exception as exc:  # noqa: BLE001 - counted as failed
                msg = [f"{type(exc).__name__}: {str(exc)[:300]}"]
                problems.update(dict.fromkeys(keys[p], msg))
                continue
            for k in range(CORPUS_DROPS):
                bad = []
                got = sorted(r.fingerprint for r in store if r.drop == k)
                if got != fps[k]:
                    bad.append(f"store: {len(got)} fingerprints, "
                               f"expected {len(fps[k])}")
                got = sorted(tuple(r)[:4] for r in corpus if r.drop == k)
                if got != chunks[k]:
                    bad.append(f"corpus: {len(got)} chunks, expected "
                               f"{len(chunks[k])}")
                if bad:
                    problems[keys[p][k]] = bad
        return problems


WORKLOADS = {"analyst": Analyst, "corpus": Corpus}

"""The benchmark workloads.

Each workload has a seeded operation stream, calls the engine only through
its public API (``ToStoreSpark``, ``db.query(...)`` chains, the write
builders, ``flush``, ``vector_search`` and the ``llmops`` functions), and an
oracle for every operation: DuckDB over the same parquet files for the read
workloads, an in-memory Python model of the table for ``mutate_serve``.

Interface used by run.py:
  ``tables()``            seeded input tables (written before Spark starts)
  ``setup()``             one engine set-up; timed and repeated by the runner
  ``cycle()``             the next cycle of operation kinds
  ``CYCLE_S``             seconds one cycle takes at the reference commit;
                          a run of N seconds is round(N / CYCLE_S) cycles
  ``WARMUP_CYCLES``       untimed cycles run before the timed ones
  ``STATEFUL``            the ops change the data: set up afresh after the
                          warm-up, so the timed cycles start from the load
  ``params(kind)``        seeded parameters of one operation
  ``run(kind, p)``        the engine call (the timed part), normalised result
  ``observe(kind, p, r)`` model step after an op; returns its expected value
  ``verify(entries)``     one flag per entry: its result matches the oracle
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import check
import datagen

LLM_OPS = ["minhash_pairs", "knn_join", "cosine_topk", "text_stats"]
# mutate_serve runs this fixed cycle, each named operation once: four
# mutations, one flush (the flush policy), then two reads of the flushed
# table
MUTATE_CYCLE = ["insert", "upsert", "update_key", "delete_range", "flush",
                "point_get", "group_count"]

MINHASH_P = 4294967291          # minhash modulus of the engine's LSH family
NORM_T = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', "
          "'', 'g'), '\\s+', ' ', 'g'))")
SW_EN = ("['the','a','an','and','or','of','to','in','is','it','that','for',"
         "'on','with','as','at','by','from']")
PUNCT = "[.,!?;:''\"()\\[\\]{}-]"


def minhash_ab(n: int) -> list[tuple[int, int]]:
    """The (a, b) pairs of the engine's minhash family: an LCG from 42."""
    out, state = [], 42
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state | 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        out.append((a, state))
    return out


class Workload:
    name = ""
    STATEFUL = False

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int,
                 tracer):
        self.spark, self.data_dir, self.work_dir = spark, data_dir, work_dir
        self.rng = np.random.default_rng([seed, 1])
        self.data_rng = np.random.default_rng([seed, 0])
        self.tracer = tracer
        self.db = None

    def cycle(self) -> list[str]:
        """One cycle: a seeded permutation of the workload's mix."""
        return [str(k) for k in self.rng.permutation(self.mix)]

    def observe(self, kind, p, result):
        return None

    def _duck(self):
        import duckdb
        con = duckdb.connect()
        for fn in sorted(os.listdir(self.data_dir)):
            if fn.endswith(".parquet"):
                con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.data_dir, fn)}')")
        return con


# ----------------------------------------------------------------------
class LlmBatch(Workload):
    """LLM-pipeline batch operators over documents and embeddings."""

    name = "llm_batch"
    mix = LLM_OPS
    CYCLE_S = 1.25
    WARMUP_CYCLES = 3
    DOCS_PER_DEDUP = 1000
    DOCS_PER_STATS = 500

    def tables(self):
        return datagen.llm_tables(self.data_rng)

    def setup(self):
        from tostore_spark import ToStoreSpark
        self.db = ToStoreSpark(self.spark, data_dir=self.data_dir)

    def params(self, kind):
        r, nd = self.rng, datagen.SIZES["documents"]
        if kind == "minhash_pairs":
            return {"lo": int(r.integers(0, nd - self.DOCS_PER_DEDUP))}
        if kind == "text_stats":
            return {"lo": int(r.integers(0, nd - self.DOCS_PER_STATS))}
        if kind == "knn_join":
            return {"ids": sorted(int(x) for x in r.choice(
                datagen.SIZES["embeddings"], 10, replace=False)), "k": 5}
        if kind == "cosine_topk":
            return {"q": [round(float(x), 6)
                          for x in r.normal(size=datagen.EMB_DIM)]}
        raise KeyError(kind)

    def _docs(self, lo, n):
        from pyspark.sql import functions as F
        return self.db.df("documents").filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + n))

    def run(self, kind, p):
        from pyspark.sql import functions as F
        from tostore_spark.llmops import dedup, similarity, text
        span, terminal = self.tracer.span, self.tracer.terminal
        if kind == "minhash_pairs":
            with span("llmops.dedup"):
                df = dedup.minhash_lsh_pairs(
                    self._docs(p["lo"], self.DOCS_PER_DEDUP),
                    num_hashes=16, bands=4)
                with terminal():
                    out = df.collect()
            return check.rows(out, ["id_a", "id_b"])
        if kind == "text_stats":
            cols = ["doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
                    "mean_token_len", "quality"]
            with span("llmops.text"):
                df = text.text_stats(self._docs(p["lo"], self.DOCS_PER_STATS))
                with terminal():
                    out = df.select(*cols).collect()
            return check.rows(out, cols)
        if kind == "knn_join":
            emb = self.db.df("embeddings")
            with span("llmops.similarity"):
                df = similarity.knn_join(
                    emb.filter(F.col("vec_id").isin(p["ids"])), emb,
                    k=p["k"], metric="cosine")
                with terminal():
                    out = df.collect()
            return check.rows(out, ["query_id", "neighbor_id", "rank",
                                    "distance"])
        if kind == "cosine_topk":
            with span("vector.topk"):
                df = self.db.vector_search("embeddings", "embedding",
                                           p["q"], top_k=10, metric="cosine")
                with terminal():
                    out = df.collect()
            return check.rows(out, ["vec_id", "distance"])
        raise KeyError(kind)

    @staticmethod
    def _minhash_sql():
        """(doc_id, band hash) of every document: a document's bands
        depend on its text alone, so one pass serves every window."""
        ab = ", ".join(f"({h}, {a}, {b})"
                       for h, (a, b) in enumerate(minhash_ab(16)))
        bands = ", ".join(
            f"md5('{b}' || ',' || " + " || ',' || ".join(
                f"CAST(sig[{b * 4 + r + 1}] AS VARCHAR)" for r in range(4))
            + ")" for b in range(4))
        return f"""
            WITH norm AS (SELECT doc_id, {NORM_T} AS t FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(
                     [substr(t, i, 5) for i in
                      range(1, greatest(len(t) - 4, 1) + 1)])) AS s FROM norm),
            base AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT
                       AS u FROM sh),
            ab AS (SELECT * FROM (VALUES {ab}) v(h, a, b)),
            hs AS (SELECT doc_id, h, min((a * u + ab.b) % {MINHASH_P}) AS mh
                   FROM base CROSS JOIN ab GROUP BY doc_id, h),
            sig AS (SELECT doc_id, list(mh ORDER BY h) AS sig FROM hs
                    GROUP BY doc_id)
            SELECT doc_id, unnest([{bands}]) AS band FROM sig"""

    @staticmethod
    def _text_sql():
        """The text stats of every document (each row depends on its own
        text alone)."""
        ntok = "len(toks)"
        mtl = (f"CASE WHEN {ntok} > 0 THEN CAST(list_sum(list_transform("
               f"toks, t -> len(t))) AS DOUBLE) / {ntok} ELSE 0.0 END")
        swr = (f"CASE WHEN {ntok} > 0 THEN CAST(len(list_filter(toks, "
               f"t -> list_contains({SW_EN}, t))) AS DOUBLE) / {ntok} "
               f"ELSE 0.0 END")
        pr = (f"CASE WHEN len(text) > 0 THEN CAST(len(text) - len("
              f"regexp_replace(text, '{PUNCT}', '', 'g')) AS DOUBLE) "
              f"/ len(text) ELSE 0.0 END")
        quality = (f"least(coalesce({ntok}, 0) / 100.0, 1.0) * 0.4"
                   f" + (CASE WHEN ({mtl}) BETWEEN 3.0 AND 10.0 THEN 1.0"
                   f" ELSE 0.5 END) * 0.2"
                   f" + (CASE WHEN ({swr}) BETWEEN 0.05 AND 0.6 THEN 1.0"
                   f" ELSE 0.5 END) * 0.2"
                   f" + (1.0 - least(({pr}) * 2.0, 1.0)) * 0.2")
        return f"""SELECT doc_id, coalesce({ntok}, 0) AS n_tokens, {pr} AS pr,
                     {swr} AS swr, {mtl} AS mtl, {quality} AS quality
                   FROM (SELECT doc_id, text, regexp_extract_all(lower(text),
                                '[a-z0-9]+') AS toks FROM documents)"""

    def verify(self, entries, corrupt=None):
        con = self._duck()
        # the vector oracle: embeddings read by DuckDB from the same
        # parquet file, distances in float64 numpy
        ids, vecs = con.execute(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
        ).fetchnumpy().values()
        vecs = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        pos = {int(i): n for n, i in enumerate(ids)}

        def cos_dist(q):
            q = np.asarray(q, dtype=np.float64)
            return 1.0 - vecs @ q / (norms * np.sqrt(q @ q))

        con.execute(f"CREATE TEMP TABLE banded AS {self._minhash_sql()}")
        con.execute(f"CREATE TEMP TABLE stats AS {self._text_sql()}")
        ok = []
        for i, e in enumerate(entries):
            kind, p, got = e["kind"], e["p"], e["result"]
            bump = 1 if i == corrupt else 0
            if kind in ("minhash_pairs", "text_stats"):
                lo = p["lo"]
                if kind == "minhash_pairs":
                    hi = lo + self.DOCS_PER_DEDUP
                    sql = f"""SELECT DISTINCT x.doc_id, y.doc_id FROM banded x
                        JOIN banded y ON x.band = y.band
                         AND x.doc_id < y.doc_id
                        WHERE x.doc_id >= {lo} AND x.doc_id < {hi}
                          AND y.doc_id >= {lo} AND y.doc_id < {hi}"""
                else:
                    hi = lo + self.DOCS_PER_STATS
                    sql = f"""SELECT * FROM stats
                              WHERE doc_id >= {lo} AND doc_id < {hi}"""
                exp = [check.norm(r) for r in con.execute(sql).fetchall()]
                if bump:
                    exp = check.perturb(exp)
                ok.append(check.rows_equal(got, exp))
            elif kind == "cosine_topk":
                d = cos_dist(p["q"]) + bump
                ok.append(check.topk_equal(
                    got, {int(v): float(x) for v, x in zip(ids, d)}, 10))
            elif kind == "knn_join":
                truth = {}
                for qid in p["ids"]:
                    d = cos_dist(vecs[pos[qid]]) + bump
                    truth[qid] = {int(v): float(x) for v, x in zip(ids, d)
                                  if v != qid}
                ok.append(self._knn_ok(got, truth, p["k"]))
        con.close()
        return ok

    @staticmethod
    def _knn_ok(got, truth: dict, k: int) -> bool:
        by_q: dict[int, list] = {}
        for qid, nid, rank, d in got:
            by_q.setdefault(qid, []).append((rank, nid, d))
        if sorted(by_q) != sorted(truth):
            return False
        for qid, lst in by_q.items():
            lst.sort()
            if [r for r, _, _ in lst] != list(range(1, len(lst) + 1)):
                return False
            if not check.topk_equal([(n, d) for _, n, d in lst],
                                    truth[qid], k):
                return False
        return True


# ----------------------------------------------------------------------
class MutateServe(Workload):
    """OLTP write-then-read on a warehouse-backed table with a string PK."""

    name = "mutate_serve"
    mix = MUTATE_CYCLE
    CYCLE_S = 6.5
    WARMUP_CYCLES = 1
    STATEFUL = True
    ZIPF_A = 1.2

    def tables(self):
        return {"items": datagen.items_table(self.data_rng)}

    def cycle(self):
        return list(MUTATE_CYCLE)

    def _schema(self):
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        return TableSchema("items", fields=[
            FieldSchema("id", DataType.text, nullable=False),
            FieldSchema("k", DataType.bigInt),
            FieldSchema("grp", DataType.bigInt),
            FieldSchema("val", DataType.double)],
            primary_key=PrimaryKeyConfig("id"))

    def setup(self):
        """Bulk load: a fresh warehouse, the seeded parquet file registered
        under the table's schema, and the first ``flush`` writing it."""
        import pyarrow.parquet as pq
        from tostore_spark import ToStoreSpark
        self.warehouse = os.path.join(self.work_dir, "warehouse")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        path = os.path.join(self.data_dir, "items.parquet")
        self.db = ToStoreSpark(self.spark, warehouse=self.warehouse)
        self.db.register_table("items", path=path, schema=self._schema())
        self.db.flush()
        rows = pq.read_table(path).to_pylist()
        # the model: id -> (k, grp, val), plus per-group membership
        self.model = {r["id"]: (r["k"], r["grp"], r["val"]) for r in rows}
        self.groups: dict[int, set] = {}
        for i, (_, g, _) in self.model.items():
            self.groups.setdefault(g, set()).add(i)
        self.next_k = len(rows)
        n = len(rows)
        self.hot = self.rng.permutation(n)      # Zipf rank -> key
        self.user_bytes = 0

    def _zipf_key(self) -> str:
        r = int(self.rng.zipf(self.ZIPF_A)) - 1
        return str(int(self.hot[r % len(self.hot)]))

    def params(self, kind):
        r = self.rng
        if kind == "point_get":
            return {"id": self._zipf_key()}
        if kind == "update_key":
            return {"id": self._zipf_key(),
                    "val": round(float(r.uniform(0, 1000)), 2)}
        if kind == "insert":
            k0 = self.next_k
            self.next_k += 200
            return {"rows": [{"id": str(k), "k": k,
                              "grp": k % datagen.ITEM_GROUPS,
                              "val": round(float(v), 2)}
                             for k, v in zip(range(k0, k0 + 200),
                                             r.uniform(0, 1000, 200))]}
        if kind == "upsert":
            keys = [int(x) for x in r.choice(self.next_k, 100,
                                             replace=False)]
            return {"rows": [{"id": str(k), "k": k,
                              "grp": k % datagen.ITEM_GROUPS,
                              "val": round(float(v), 2)}
                             for k, v in zip(keys, r.uniform(0, 1000, 100))]}
        if kind == "delete_range":
            a = int(r.integers(0, self.next_k - 20))
            return {"a": a, "b": a + 20}
        if kind == "group_count":
            return {"grp": int(r.integers(0, datagen.ITEM_GROUPS))}
        if kind == "flush":
            return {}
        raise KeyError(kind)

    def run(self, kind, p):
        from tostore_spark import Agg
        db, span, terminal = self.db, self.tracer.span, self.tracer.terminal
        if kind == "point_get":
            with span("query"):
                q = db.query("items").where("id", "=", p["id"])
                with terminal():
                    recs = q.run().records
            return check.rows(recs, ["id", "k", "grp", "val"])
        if kind == "group_count":
            with span("query"):
                q = (db.query("items").where("grp", "=", p["grp"])
                     .group_by(["grp"])
                     .select_agg([Agg.count("*", "n"), Agg.sum("val", "s")]))
                with terminal():
                    recs = q.run().records
            return check.rows(recs, ["grp", "n", "s"])
        if kind == "insert":
            with span("write.insert"):
                db.batch_insert("items", [dict(r) for r in p["rows"]])
            return None
        if kind == "upsert":
            with span("write.upsert"):
                db.batch_upsert("items", [dict(r) for r in p["rows"]])
            return None
        if kind == "update_key":
            with span("write.update"):
                n = (db.update("items", {"val": p["val"]})
                     .where("id", "=", p["id"]).execute())
            return n
        if kind == "delete_range":
            with span("write.delete"):
                n = (db.delete("items").where("k", ">=", p["a"])
                     .where("k", "<", p["b"]).execute())
            return n
        if kind == "flush":
            with span("store.flush"):
                return tuple(db.flush())
        raise KeyError(kind)

    def _put(self, r):
        old = self.model.get(r["id"])
        if old is not None:
            self.groups[old[1]].discard(r["id"])
        self.model[r["id"]] = (r["k"], r["grp"], r["val"])
        self.groups.setdefault(r["grp"], set()).add(r["id"])
        self.user_bytes += len(r["id"]) + 24      # id + three 8-byte values

    def observe(self, kind, p, result):
        """Apply the op to the model; return the value the engine should
        have returned."""
        if kind == "point_get":
            v = self.model.get(p["id"])
            return [(p["id"],) + v] if v else []
        if kind == "group_count":
            ids = self.groups.get(p["grp"], ())
            if not ids:
                return []
            return [(p["grp"], len(ids),
                     sum(self.model[i][2] for i in ids))]
        if kind in ("insert", "upsert"):
            for r in p["rows"]:
                self._put(r)
            return None
        if kind == "update_key":
            v = self.model.get(p["id"])
            if v is None:
                return 0
            self._put({"id": p["id"], "k": v[0], "grp": v[1],
                       "val": p["val"]})
            return 1
        if kind == "delete_range":
            gone = [str(k) for k in range(p["a"], p["b"])
                    if str(k) in self.model]
            for i in gone:
                self.groups[self.model.pop(i)[1]].discard(i)
            return len(gone)
        if kind == "flush":
            return ("items",)
        raise KeyError(kind)

    def verify(self, entries, corrupt=None):
        ok = []
        for i, e in enumerate(entries):
            exp = e["expected"]
            if i == corrupt:
                exp = check.perturb(exp)
            if exp is None:          # insert/upsert return nothing to compare
                ok.append(True)
            elif isinstance(exp, list):
                ok.append(check.rows_equal(e["result"], exp))
            else:
                ok.append(e["result"] == exp)
        return ok

    def live_bytes(self) -> int:
        """Bytes of the live rows (from the model) written once as a single
        parquet file by Spark's own writer, the warehouse's writer."""
        import pandas as pd
        ids = sorted(self.model, key=lambda i: self.model[i][0])
        pdf = pd.DataFrame([(i,) + self.model[i] for i in ids],
                           columns=["id", "k", "grp", "val"])
        path = os.path.join(self.work_dir, "live")
        (self.spark.createDataFrame(pdf).coalesce(1)
         .write.mode("overwrite").parquet(path))
        return sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if f.endswith(".parquet"))


WORKLOADS = {w.name: w for w in (LlmBatch, MutateServe)}

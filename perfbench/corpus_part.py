"""The corpus half of ``batch_analytics``: the LLM-data-pipeline operators.

Set-up generates a seeded document corpus with planted exact and near
duplicates plus embeddings with planted near neighbours, writes the
documents as a raw JSONL dump and ingests it with ``sources.documents``
into the canonical parquet layout the pipeline operators read. Each step
runs one dedup, quality or ANN operator against that directory, clearing
the per-session memo caches first so no call is served from an earlier
one's cached result, and checks the result against the generator.
"""

from __future__ import annotations

import json
import os
import random

from harness import check, median

VOCAB = 6000
DOC_TOKENS = (40, 110)
EXACT_FRAC, NEAR_FRAC = 0.02, 0.03
NEAR_EDITS = 2  # tokens replaced in a near-duplicate
N_VECS, DIM = 2000, 64
NEAR_RECALL = 0.9  # share of planted near-duplicate pairs LSH must find


class CorpusPart:
    n_docs = 3000

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.pass_s: dict[str, list[float]] = {}

    # -- inputs -------------------------------------------------------------
    def _corpus(self):
        rng = random.Random(self.ctx.seed * 15485863 + 5)
        words = [f"w{i}" for i in range(VOCAB)]
        docs, exact, near = [], [], []
        for i in range(self.n_docs):
            r = rng.random()
            if i > 10 and r < EXACT_FRAC:
                j = rng.randrange(i)
                tokens = docs[j].split()
                exact.append((j, i))
            elif i > 10 and r < EXACT_FRAC + NEAR_FRAC:
                j = rng.randrange(i)
                tokens = docs[j].split()
                for _ in range(NEAR_EDITS):
                    tokens[rng.randrange(5, len(tokens) - 5)] = rng.choice(words)
                near.append((j, i))
            else:
                tokens = [rng.choice(("the", "a")) if rng.random() < 0.08
                          else words[int(VOCAB * rng.random() ** 1.5)]
                          for _ in range(rng.randint(*DOC_TOKENS))]
            docs.append(" ".join(tokens))
        langs = [rng.choice(("en", "de", "fr", "es", "zh")) for _ in docs]
        return docs, langs, exact, near

    def _vectors(self):
        import numpy as np

        rs = np.random.default_rng(self.ctx.seed)
        vecs = rs.standard_normal((N_VECS, DIM)).astype("float32")
        # vec_id < 5 are the queries; each gets one planted near neighbour
        self.planted_nn = {}
        for q in range(5):
            nn = 1000 + 37 * q
            vecs[nn] = vecs[q] + 0.05 * rs.standard_normal(DIM).astype("float32")
            self.planted_nn[q] = nn
        return vecs

    # -- set-up -------------------------------------------------------------
    def build(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gravitydb_spark.sources.documents import read_documents, write_documents

        docs, langs, self.exact, self.near = self._corpus()
        self.docs = docs
        raw = os.path.join(self.ctx.work, "raw")
        os.makedirs(raw)
        with open(os.path.join(raw, "dump.jsonl"), "w") as f:
            for i, (text, lang) in enumerate(zip(docs, langs)):
                f.write(json.dumps({"doc_id": i, "text": text, "lang": lang,
                                    "source": f"src{i % 20}"}) + "\n")
        self.dir = os.path.join(self.ctx.work, "corpus")
        os.makedirs(self.dir)
        vecs = self._vectors()
        pq.write_table(pa.table({
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(N_VECS)], pa.int32()),
        }), os.path.join(self.dir, "embeddings.parquet"))
        with self.tr.span("sources.documents"):
            df = read_documents(self.spark, raw, fmt="jsonl")
            write_documents(df, os.path.join(self.dir, "documents.parquet"))

    # -- ops ----------------------------------------------------------------
    def call(self, kind: str) -> None:
        from gravitydb_spark import pipeline_queries as pq
        from gravitydb_spark.relational_queries import clear_memo_cache

        fn = {
            "dedup_exact": pq.dedup_exact,
            "minhash_cluster": pq.dedup_minhash_cluster,
            "quality": pq.text_quality_score,
            "ann_topk": pq.ann_cosine_topk,
        }[kind]
        clear_memo_cache(self.spark)
        jobs0 = self.ctx.counters.jobs()
        with self.tr.span(f"pipeline.{kind}"):
            rows = fn(self.spark, self.dir).collect()
        check(self.ctx.counters.jobs() > jobs0, f"{kind}: ran no Spark job (memo hit)")
        getattr(self, f"_check_{kind}")(rows)

    def _check_dedup_exact(self, rows) -> None:
        by_text: dict = {}
        for i, text in enumerate(self.docs):
            by_text.setdefault(text, []).append(i)
        want = {min(ids): len(ids) for ids in by_text.values() if len(ids) > 1}
        got = {r["keep_doc_id"]: r["n_copies"] for r in rows if r["n_copies"] > 1}
        check(len(rows) == len(by_text), "dedup_exact: group count")
        check(got == want, "dedup_exact: duplicate groups differ from the generator")
        check(sum(n - 1 for n in got.values()) >= len(self.exact),
              "dedup_exact: fewer copies than planted")

    def _check_minhash_cluster(self, rows) -> None:
        cl = {r["doc_id"]: r["cluster"] for r in rows}
        together = sum(j in cl and cl.get(j) == cl.get(i) for j, i in self.near)
        check(together >= NEAR_RECALL * len(self.near),
              f"minhash_cluster: {together} of {len(self.near)} near-dups clustered")
        check(all((r["keep"] == 1) == (r["doc_id"] == r["cluster"]) for r in rows),
              "minhash_cluster: keeper is not the cluster minimum")

    def _check_quality(self, rows) -> None:
        check(len(rows) == self.n_docs, "quality: one row per document")
        for r in rows[:200]:
            toks = self.docs[r["doc_id"]].split()
            sr = sum(t in ("the", "a") for t in toks) / len(toks)
            check(abs(r["stopword_ratio"] - sr) <= 1e-4, "quality: stopword ratio")
            check(0 < r["unique_ratio"] <= 1, "quality: unique ratio out of range")

    def _check_ann_topk(self, rows) -> None:
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["q_id"], []).append(r)
        check(sorted(by_q) == list(range(5)), "ann_topk: query set")
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["rnk"])
            check(len(rs) == 10, "ann_topk: k results per query")
            check(rs[0]["vec_id"] == self.planted_nn[q], f"ann_topk: query {q} misses its twin")

    def step(self, log, kind: str) -> None:
        done = len(log.samples.get("pipeline", ()))
        with log.op("pipeline"):
            self.call(kind)
        if len(log.samples.get("pipeline", ())) > done:
            self.pass_s.setdefault(kind, []).append(log.samples["pipeline"][-1])

    def metrics(self, log) -> dict:
        out = {f"{k}_s": (median(v), "s") for k, v in self.pass_s.items()}
        xs = log.samples.get("pipeline", [])
        if xs:
            out["corpus_docs_per_s"] = (self.n_docs * len(xs) / sum(xs), "docs/s")
        return out


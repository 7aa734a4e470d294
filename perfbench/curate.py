"""``curate``: training-sequence curation over corpora written once as plain
parquet, so the snapshot layer stays idle. Each step is one public function
forced through the ``noop`` sink; the timed loop repeats whole passes over
all steps until the window is used up, and clears the cache after each
pass (the functions leave ``persist()`` caches behind for their caller).
The untimed warm-up pass in set-up writes the outputs the checks read to
parquet instead.

Only the ``functions.*`` layers (Python/Arrow UDFs, the ``persist()``
sites in ``dedupe.py``) run; ``replay`` and ``snapshot`` do none.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from aws_serverless_elt_pipeline_enterprise_spark.functions import dedupe as dd
from aws_serverless_elt_pipeline_enterprise_spark.functions import multimodal as mm
from aws_serverless_elt_pipeline_enterprise_spark.functions import similarity as sim
from aws_serverless_elt_pipeline_enterprise_spark.functions import tokens as tk

import checks
import inputs
from harness import generate
from metrics import CURATE_STEPS, PYTHON_STEPS
from workload import Workload

SIZES = {
    "full": {"token_docs": 16_000, "text_docs": 1_500, "vectors": 1_200, "dim": 64},
    "tiny": {"token_docs": 1_000, "text_docs": 300, "vectors": 200, "dim": 16},
}
PACK_LEN = 512
CHUNK_LEN, CHUNK_STRIDE = 16, 12
NEAR_DUP_COS = 0.95
MAX_HAMMING = 3
TOPK, N_QUERIES = 10, 8
MINHASH_EST = 0.5
# A planted pair (shingle Jaccard about 0.8) becomes an LSH candidate with
# probability 1 - (1 - 0.8**4)**8, about 0.985, so a few of them are
# missed by design; a broken MinHash finds next to none.
PLANTED_RECALL = 0.8
# steps whose output the checks read back
CHECKED_OUTPUTS = (
    "tokens_rolling_hash",
    "pack_sequences",
    "minhash_lsh_pairs",
    "simhash_near_dup_pairs",
    "dup_clusters",
    "embedding_near_dup_pairs",
    "batch_topk_pandas",
    "decode_meta",
    "extract_features",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Curate(Workload):
    name = "curate"
    item = "corpus documents curated (token sequences + texts + vectors)"
    latency_op = "one curation step"

    def inputs(self) -> None:
        sz = SIZES[self.ctx.size]
        self.dir = generate(
            self.ctx.run_dir,
            lambda p: inputs.curate(
                self.spark, p, self.ctx.seed, sz["token_docs"], sz["text_docs"], sz["vectors"], sz["dim"]
            ),
        )
        self.meta = inputs.read_meta(self.dir)
        rd = self.spark.read.parquet
        self.tok = rd(os.path.join(self.dir, "tokens"))
        self.docs = rd(os.path.join(self.dir, "documents.parquet"))
        self.vecs = rd(os.path.join(self.dir, "embeddings.parquet"))
        self.queries = [list(r["embedding"]) for r in self.vecs.orderBy("vec_id").limit(N_QUERIES).collect()]
        self.pack_buckets = 4 * self.ctx.n_cores

    def reset_samples(self) -> None:
        super().reset_samples()
        self.persisted_left: list[int] = []

    def _steps(self, tok, docs, vecs) -> list:
        """One builder per step, in ``CURATE_STEPS`` order."""
        state = {}

        def minhash():
            state["mh"] = dd.minhash_lsh_pairs(docs, k=32, bands=8)
            return state["mh"]

        def clusters():
            return dd.dup_clusters(state["mh"].filter(F.col("jaccard_est") >= MINHASH_EST).select("a", "b"))

        return [
            lambda: tok.select("doc_id", tk.tokens_rolling_hash("tokens").alias("h")),
            lambda: tok.select("doc_id", tk.tokens_dedupe_consecutive("tokens").alias("tokens")),
            lambda: tk.pack_sequences(tok, max_len=PACK_LEN, n_buckets=self.pack_buckets),
            lambda: tk.chunk_sequences(tok, max_len=CHUNK_LEN, stride=CHUNK_STRIDE),
            minhash,
            lambda: dd.simhash_near_dup_pairs(docs, max_hamming=MAX_HAMMING),
            clusters,
            lambda: sim.embedding_near_dup_pairs(vecs, threshold=NEAR_DUP_COS),
            lambda: sim.batch_topk_pandas(vecs, self.queries, k=TOPK),
            lambda: mm.decode_meta(mm.synth_media(docs.select("doc_id"))),
            lambda: mm.extract_features(mm.synth_media(docs.select("doc_id")), fake=False),
        ]

    def _out(self, fn: str) -> str:
        return self.path("out", fn)

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def _pass(self, sink) -> None:
        for (mod, fn_name), build in zip(CURATE_STEPS, self._steps(self.tok, self.docs, self.vecs)):
            with self.tracer.span(f"{mod}.{fn_name}") as s:
                self.op(lambda: sink(fn_name, build()))
            self.latencies.append(s["dur"])
        self.persisted_left.append(self._persisted())
        with self.tracer.span("curate.clear_cache"):
            self.spark.catalog.clearCache()

    def cycle(self) -> int:
        self._pass(lambda fn_name, df: noop(df))
        return self.meta["token_docs"] + self.meta["text_docs"] + self.meta["vectors"]

    def _write_checked(self, fn_name: str, df) -> None:
        if fn_name in CHECKED_OUTPUTS:
            df.write.mode("overwrite").parquet(self._out(fn_name))
        else:
            noop(df)

    def warmup_cycle(self) -> None:
        """The warm-up pass writes the outputs the checks read to parquet."""
        self._pass(self._write_checked)

    def checks(self) -> list:
        rd = self.spark.read.parquet
        out = {fn: rd(self._out(fn)) for fn in CHECKED_OUTPUTS}

        def rolling():
            sample = (
                out["tokens_rolling_hash"].join(self.tok, "doc_id")
                .filter(F.pmod(F.xxhash64("doc_id"), F.lit(50)) == 0)
                .collect()
            )
            return checks.rolling_hashes(sample) if sample else "empty rolling-hash sample"

        def topk():
            rows = self.vecs.orderBy("vec_id").collect()
            m = np.array([r["embedding"] for r in rows], dtype=np.float64)
            ids = np.array([r["vec_id"] for r in rows])
            got = out["batch_topk_pandas"].collect()
            return checks.topk(got, m, ids, np.array(self.queries, dtype=np.float64), TOPK)

        def minhash():
            pairs = out["minhash_lsh_pairs"].filter(F.col("jaccard_est") >= MINHASH_EST)
            pairs = pairs.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            return checks.planted_recall(pairs, self.meta["planted_doc_pairs"], PLANTED_RECALL) or checks.clusters(
                out["dup_clusters"], pairs
            )

        def media():
            src = mm.synth_media(self.docs.select("doc_id"))
            return checks.media(out["decode_meta"], out["extract_features"], src, self.meta["text_docs"])

        return [
            rolling,
            lambda: checks.packing(out["pack_sequences"], self.tok, PACK_LEN),
            lambda: checks.cosine_pairs(out["embedding_near_dup_pairs"], self.vecs, NEAR_DUP_COS),
            lambda: checks.hamming_pairs(out["simhash_near_dup_pairs"], self.docs, MAX_HAMMING),
            minhash,
            topk,
            media,
        ]

    def layers(self, ev) -> dict:
        out = {}
        for mod, fn in CURATE_STEPS:
            name = f"{mod}.{fn}"
            spans = self.window_spans(name)
            # the step's fastest pass, as for latency
            out[f"{name}_s"] = min((s["dur"] for s in spans), default=0.0)
            if fn in PYTHON_STEPS:
                t = ev.totals(self.groups(spans))
                out[f"python.{fn}.arrow_bytes_sent"] = t["py_sent"] / max(1, len(self.cycles))
                out[f"python.{fn}.arrow_bytes_received"] = t["py_received"] / max(1, len(self.cycles))
        total = ev.totals(self.groups(self.window_spans()))
        out["python.arrow_bytes_sent"] = total["py_sent"] / max(1, len(self.cycles))
        out["python.arrow_bytes_received"] = total["py_received"] / max(1, len(self.cycles))
        out["curate.persisted_rdds_left"] = max(self.persisted_left, default=0)
        return out

    def report(self) -> list:
        return [
            ("docs_per_s", self.throughput(), "1/s"),
            ("pass_s.best", min((secs for _, secs in self.cycles), default=0.0), "s"),
            ("passes_timed", len(self.cycles), "count"),
            ("persisted_rdds_left", max(self.persisted_left, default=0), "count"),
        ]

"""Incremental near-duplicate detection over a growing corpus: a
PERSISTENT banded-MinHash signature index plus batch-at-a-time
candidate generation.

The batch pipeline (``__spark_entry__.q_near_dup_pipeline``) re-signs
the whole corpus every run — correct, but at 100 TB the economics are
wrong: ingest adds a sliver of new documents a day and signatures of
old documents never change. This materializes them once:

- ``build(docs)`` writes the signature table (doc_id, band, band_sig)
  through the catalog, PARTITIONED BY band — the same layout the LSH
  bucket join shuffles on, so the incremental join reads co-located
  partitions. Index parameters (shingle_n/num_hashes/bands) persist as
  table properties; ``add_batch`` refuses a drifted configuration
  rather than silently mixing hash families.
- ``add_batch(new_docs, corpus)`` signs ONLY the new batch (the sliver),
  joins it against the index on (band, band_sig) for new-vs-old
  candidates — new-vs-new pairs fall out of the same join because the
  probe side unions into the build side — verifies candidates with
  exact shingle-Jaccard against the corpus (joins touch candidate ids
  only), and appends the new signatures so the next batch sees them.
  ``probe_batch`` is the same detection WITHOUT the fold-in append
  (idempotent; what a dry-run or a read-only replica executes).

Per batch the full corpus is never rescanned: work is
O(batch × bands + candidate pairs). The signature family is the
deterministic Arrow kernel (operators/dedup.py
``_minhash_banded_arrow`` — md5-fold + splitmix64), so signatures
written months apart by different executors still collide correctly.

Equivalence to the batch run is pinned by tests
(tests/test_incremental_dedup.py): build(first) + add_batch(rest)
yields exactly the batch pipeline's verified pairs that involve a new
document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_lakehouse_spark.operators import dedup

__all__ = ["IncrementalNearDupIndex"]


class IncrementalNearDupIndex:
    def __init__(
        self,
        catalog,
        name: str = "neardup_minhash_index",
        *,
        shingle_n: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        max_bucket_size: int | None = 10_000,
    ) -> None:
        self.catalog = catalog
        self.name = name
        self.shingle_n = shingle_n
        self.num_hashes = num_hashes
        self.bands = bands
        self.max_bucket_size = max_bucket_size

    # ------------------------------------------------------------------
    def exists(self) -> bool:
        return self.catalog.table_exists(self.name)

    def _sign(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        return dedup._minhash_banded_arrow(
            docs,
            text_col,
            id_col,
            shingle_n=self.shingle_n,
            num_hashes=self.num_hashes,
            bands=self.bands,
        )

    def _props(self) -> dict:
        return {
            "index.kind": "minhash_banded",
            "index.shingle_n": str(self.shingle_n),
            "index.num_hashes": str(self.num_hashes),
            "index.bands": str(self.bands),
        }

    def _check_props(self) -> None:
        props = self.catalog.table_properties(self.name)
        want = self._props()
        drift = {
            k: (props.get(k), v) for k, v in want.items() if props.get(k) != v
        }
        if drift:
            raise ValueError(
                f"{self.name}: index parameters drifted {drift}; rebuild the "
                "index instead of mixing MinHash families"
            )

    # ------------------------------------------------------------------
    def build(
        self,
        docs: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        """Full (re)build: sign every document, write partitioned by
        band. One corpus scan — the amortized write-time cost every
        later batch avoids (standard index economics)."""
        return self.catalog.create_table(
            self.name,
            self._sign(docs, text_col, id_col),
            partition_by=["band"],
            properties=self._props(),
            mode="replace",
        )

    def probe_batch(
        self,
        new_docs: DataFrame,
        corpus: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
    ) -> DataFrame:
        """Detection only — the read side of :meth:`add_batch`, with no
        index mutation (idempotent, safe to re-run): sign the batch,
        probe the index, exact-verify candidates. This is the
        steady-state per-batch cost of incremental near-dup."""
        return self._probe(new_docs, corpus, text_col, id_col, threshold)[1]

    def add_batch(
        self,
        new_docs: DataFrame,
        corpus: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
    ) -> DataFrame:
        """Detect near-dups of ``new_docs`` against everything indexed
        so far (and within the batch), then fold the batch into the
        index. Returns verified (id_a, id_b, jaccard) pairs — every
        pair touches ≥1 new document by construction.

        ``corpus`` must cover the documents candidate ids refer to
        (typically the corpus table; the verification join reads only
        candidate rows). The signature append happens AFTER the
        candidate join so a batch never pairs with itself twice.
        """
        new_sigs, verified = self._probe(
            new_docs, corpus, text_col, id_col, threshold
        )
        # Materialize results BEFORE mutating the index: `verified` is
        # lazy, and appending first would let a re-computation see the
        # batch's own signatures on the build side.
        verified = verified.localCheckpoint()
        self.catalog.append(self.name, new_sigs)
        return verified

    def _probe(
        self,
        new_docs: DataFrame,
        corpus: DataFrame,
        text_col: str,
        id_col: str,
        threshold: float,
    ) -> tuple[DataFrame, DataFrame]:
        self._check_props()
        new_sigs = self._sign(new_docs, text_col, id_col).localCheckpoint()
        indexed = self.catalog.read(self.name).select("doc_id", "band", "band_sig")
        universe = indexed.unionByName(new_sigs)
        # Join shape for a sliver-sized batch against a corpus-sized
        # index: broadcast the batch buckets, STREAM the index — the
        # index is scanned (cheap: bands × ~40 B per doc, no text) but
        # never shuffled. The semi join restricts to probed buckets
        # before the skew guard, so the window runs on batch-sized data;
        # counts within a probed bucket are unchanged by the restriction
        # and therefore match the batch pipeline's guard exactly.
        probe_buckets = new_sigs.select("band", "band_sig").distinct()
        hits = universe.join(F.broadcast(probe_buckets), ["band", "band_sig"], "leftsemi")
        if self.max_bucket_size is not None:
            from pyspark.sql.window import Window

            bucket_n = F.count("*").over(Window.partitionBy("band", "band_sig"))
            hits = (
                hits.withColumn("_bn", bucket_n)
                .filter(F.col("_bn") <= self.max_bucket_size)
                .drop("_bn")
            )
        probe = new_sigs.select(
            F.col("doc_id").alias("_pid"), "band", "band_sig"
        )
        cand = (
            hits.join(F.broadcast(probe), ["band", "band_sig"])
            .filter(F.col("doc_id") != F.col("_pid"))
            .select(
                F.least("_pid", "doc_id").alias("id_a"),
                F.greatest("_pid", "doc_id").alias("id_b"),
            )
            .distinct()
        )
        verified = dedup.ngram_jaccard_pairs(
            corpus,
            cand,
            text_col,
            id_col,
            shingle_n=self.shingle_n,
            threshold=threshold,
        )
        return new_sigs, verified

"""Oracle gate: every benchmark run's output is checked against
``oracle.evaluate_document`` on a seeded sample of documents.

The sample always holds every edge row (duplicates, bypass, missing and
corrupt media, empty docs) and the largest documents; the rest is drawn from
the seed. Only the sampled documents' payloads are scored by the oracle, so
the expected outputs cost little more than the sample itself.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from document_quality_assessment_ocr_spark import oracle
from document_quality_assessment_ocr_spark.config import default_criteria

import corpus

N_LARGEST = 4
N_RANDOM = 48


def _canon(row) -> tuple:
    """An oracle result dict or an engine Row as the compared tuple."""
    return (
        row["accepted"],
        tuple(row["reasons"]),
        tuple(row["warnings"]),
        tuple((s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]),
    )


class OracleGate:
    """Expected outputs for the sampled docs of one corpus, and the check of
    an engine output DataFrame against them."""

    def __init__(self, corpus_dir: str, seed: int) -> None:
        meta = corpus.read_meta(corpus_dir)
        self.n_docs = meta["n_docs"]
        tbl = pq.read_table(os.path.join(corpus_dir, corpus.SPANS_DIR))
        ids = tbl.column("doc_id").to_pylist()
        sizes = pc.fill_null(pc.list_value_length(tbl.column("spans")), 0).to_numpy()
        sample = {d for ids_ in meta["edge_docs"].values() for d in ids_}
        largest = []
        for i in np.argsort(-sizes, kind="stable"):
            if ids[i] not in largest:
                largest.append(ids[i])
            if len(largest) == N_LARGEST:
                break
        sample.update(largest)
        rest = sorted(set(ids) - sample)
        rng = np.random.default_rng([seed, 7])
        sample.update(rest[i] for i in rng.choice(len(rest), min(N_RANDOM, len(rest)), replace=False))
        self.sample_ids = sorted(sample)

        # last ingest wins among the sampled rows
        keep = pc.is_in(tbl.column("doc_id"), value_set=pa.array(self.sample_ids))
        latest: dict[str, dict] = {}
        for r in sorted(tbl.filter(keep).to_pylist(), key=lambda r: r["ingest_seq"]):
            latest[r["doc_id"]] = r
        refs = sorted(
            {s["media_ref"] for r in latest.values() for s in r["spans"] if s["kind"] == "media"}
        )
        pay = pq.read_table(
            os.path.join(corpus_dir, corpus.PAYLOADS_DIR), filters=[("media_ref", "in", refs)]
        ).to_pylist() if refs else []
        scored = oracle.score_payloads({p["media_ref"]: p for p in pay})
        criteria = default_criteria()
        self.expected = {
            d: _canon(
                oracle.evaluate_document(r["spans"], scored, criteria, skip_checks=r["skip_checks"])
            )
            for d, r in latest.items()
        }

    def mismatches(self, out_df) -> list[str]:
        """Problems with an engine output: wrong doc count, duplicated or
        missing sampled docs, or any sampled doc differing from the oracle.
        One Spark job: the counts and the sampled rows in one aggregate."""
        from pyspark.sql import functions as F

        sampled = F.col("doc_id").isin(self.sample_ids)
        n, n_distinct, rows = out_df.agg(
            F.count(F.lit(1)),
            F.countDistinct("doc_id"),
            F.collect_list(F.when(sampled, F.struct(*out_df.columns))),
        ).first()
        problems = []
        if n != self.n_docs or n_distinct != self.n_docs:
            problems.append(f"doc count {n} ({n_distinct} distinct), expected {self.n_docs}")
        got = {r["doc_id"]: _canon(r) for r in rows}
        for d, exp in self.expected.items():
            if got.get(d) != exp:
                problems.append(f"{d}: engine {got.get(d)!r:.200} != oracle {exp!r:.200}")
        return problems

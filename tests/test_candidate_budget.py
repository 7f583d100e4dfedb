"""Every candidate-budget site refuses with the typed error, before the
quadratic join, running the same guard jobs it always ran.

Each case drives one site past its budget on a tiny fixture whose
buckets all collide (identical texts, identical vectors). Inputs are
built and materialized OUTSIDE the job group, so the group counts only
the jobs the operator runs before it refuses: its guard aggregate(s),
plus any probe or checkpoint job it runs ahead of the guard. The
expected counts were measured on the per-site hand-written guards that
``operators/budget.py`` replaced; a site that gained a job, or that
built the join before refusing, changes its count.

The streaming sites are driven by calling their ``foreachBatch``
function directly on a static batch (captured by patching
``DataStreamWriter.foreachBatch``), so the refusal surfaces as the
typed error instead of a ``StreamingQueryException``.
"""

from __future__ import annotations

import uuid

import pytest

_TEXT = "the same template text repeated for every single document here"
_DIM = 8


def _docs(spark, n=12):
    return spark.createDataFrame(
        [(i, _TEXT) for i in range(n)], "doc_id LONG, text STRING"
    )


def _vectors(spark, n=12, block=lambda i: i % 2):
    return spark.createDataFrame(
        [(i, [1.0] * _DIM, block(i)) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )


def _signatures(spark):
    from clinical_trials_data_pipeline_analyis_spark.checkpoint import (
        cut_lineage,
    )
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        minhash_signatures,
    )

    return minhash_signatures(_docs(spark), "doc_id", "text").transform(
        cut_lineage()
    )


def _batch_function(monkeypatch, build):
    """The ``foreachBatch`` function a streaming operator installs."""
    from pyspark.sql.streaming import DataStreamWriter

    captured = []

    def capture(self, func):
        captured.append(func)
        return self

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", capture)
    build()
    monkeypatch.undo()
    return captured[0]


def lsh_pinned(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    sigs = _signatures(spark)
    return lambda: lsh_candidate_pairs(
        sigs, "doc_id", bands=4, materialize=False, max_candidates=1
    )


def lsh_auto(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    sigs = _signatures(spark)
    return lambda: lsh_candidate_pairs(
        sigs, "doc_id", bands="auto", materialize=False, max_candidates=1
    )


def lsh_against(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    sigs = _signatures(spark)
    return lambda: lsh_candidate_pairs(
        sigs, "doc_id", bands=4, materialize=False, against=sigs,
        max_candidates=1,
    )


def rhp_pinned(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    emb = _vectors(spark).localCheckpoint()
    return lambda: rhp_near_duplicates(
        emb, 0.9, n_bits=16, bands=2, dim=_DIM, max_candidates=1
    )


def rhp_auto(spark, tmp_path, monkeypatch):
    # Identical vectors collide at every width: the escalation probes
    # (rhp_candidate_estimate) climb to the band-bit ceiling and the
    # guard refuses with the ceiling message.
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        rhp_near_duplicates,
    )

    emb = _vectors(spark).localCheckpoint()
    return lambda: rhp_near_duplicates(
        emb, 0.9, n_bits="auto", bands=2, dim=_DIM, max_candidates=1,
        row_count_hint=12,
    )


def _blocked(spark):
    return (
        _vectors(spark)
        .selectExpr(
            "vec_id", "embedding AS vec", "label AS centroid_id",
            "1.0D AS cos_centroid",
        )
        .localCheckpoint()
    )


def semantic_candidates(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_pair_candidates,
    )

    blocked = _blocked(spark)
    return lambda: semantic_pair_candidates(
        blocked, 0.9, dim=_DIM, max_candidates=1
    )


def semantic_max_cell(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        semantic_pair_candidates,
    )

    blocked = _blocked(spark)
    return lambda: semantic_pair_candidates(
        blocked, 0.9, dim=_DIM, max_cell=1, max_candidates=None
    )


def embedding_max_block(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    emb = _vectors(spark).localCheckpoint()
    return lambda: embedding_duplicate_pairs(emb, max_block=1, dim=_DIM)


def embedding_block_count(spark, tmp_path, monkeypatch):
    # More than 1000 oversized blocks: refused even under route mode.
    from clinical_trials_data_pipeline_analyis_spark.operators.similarity import (
        embedding_duplicate_pairs,
    )

    emb = _vectors(spark, n=2004, block=lambda i: i // 2).localCheckpoint()
    return lambda: embedding_duplicate_pairs(
        emb, max_block=1, oversize="route", dim=_DIM
    )


def ngram_pinned(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _docs(spark).localCheckpoint()
    return lambda: ngram_jaccard_pairs(docs, "doc_id", "text", max_join_rows=1)


def ngram_auto(spark, tmp_path, monkeypatch):
    # Every shingle has df=12: even the first joining level is over the
    # budget, so no max_df fits and auto refuses.
    from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _docs(spark).localCheckpoint()
    return lambda: ngram_jaccard_pairs(
        docs, "doc_id", "text", max_df="auto", max_join_rows=1
    )


def rhp_stream(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        rhp_near_dedup_stream,
    )

    fn = _batch_function(
        monkeypatch,
        lambda: rhp_near_dedup_stream(
            spark.readStream.format("rate").load(),
            out_path=str(tmp_path / "flags"),
            store_path=str(tmp_path / "store"),
            checkpoint=str(tmp_path / "ckpt"),
            threshold=0.9,
            dim=_DIM,
            max_candidates_per_epoch=1,
        ),
    )
    batch = _vectors(spark).localCheckpoint()
    return lambda: fn(batch, 0)


def simhash_stream(spark, tmp_path, monkeypatch):
    from clinical_trials_data_pipeline_analyis_spark.streaming import (
        simhash_near_dedup_stream,
    )

    fn = _batch_function(
        monkeypatch,
        lambda: simhash_near_dedup_stream(
            spark.readStream.format("rate").load(),
            out_path=str(tmp_path / "flags"),
            store_path=str(tmp_path / "store"),
            checkpoint=str(tmp_path / "ckpt"),
            max_candidates_per_epoch=1,
        ),
    )
    batch = _docs(spark).localCheckpoint()
    return lambda: fn(batch, 0)


#: site -> Spark jobs run before the refusal, measured on the
#: hand-written guards (local[4], 4 shuffle partitions).
CASES = {
    lsh_pinned: 3,
    lsh_auto: 12,
    lsh_against: 4,
    rhp_pinned: 6,
    rhp_auto: 19,
    semantic_candidates: 5,
    semantic_max_cell: 2,
    embedding_max_block: 2,
    embedding_block_count: 2,
    ngram_pinned: 4,
    ngram_auto: 4,
    rhp_stream: 8,
    simhash_stream: 12,
}


def jobs_until_refusal(spark, call):
    """(exception, number of Spark jobs) for ``call()`` run under a
    fresh job group; the call must raise a ``ValueError``."""
    sc = spark.sparkContext
    group = f"candidate-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "candidate budget refusal")
    try:
        with pytest.raises(ValueError) as info:
            call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return info.value, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("site", list(CASES), ids=lambda f: f.__name__)
def test_budget_site_refuses_typed_before_join(
    spark, tmp_path, monkeypatch, site
):
    from clinical_trials_data_pipeline_analyis_spark.operators.budget import (
        CandidateBudgetExceeded,
    )

    call = site(spark, tmp_path, monkeypatch)
    err, jobs = jobs_until_refusal(spark, call)
    assert isinstance(err, CandidateBudgetExceeded), repr(err)
    assert isinstance(err, ValueError)
    assert err.mass > err.budget, (err.mass, err.budget)
    assert err.fix and err.fix in str(err)
    assert jobs == CASES[site], jobs

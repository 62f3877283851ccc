"""Third-opinion audit, batch 28 (r20): persisted IVF-PQ index.

The ``ann_ivf_pq_persisted`` entry reuses the ann_ivf_pq oracle on the
claim that the persisted (cell, codes) table +
sidecar-recorded codebooks reproduce the one-shot plan exactly; the
in-suite tests prove probe==one-shot THROUGH the product's own code.
This audit breaks the loop with the batch-7 independent Python
derivations (integer L2/dot, seed+one-Lloyd-step training, tie rules
— typed from the spec there, not imported from the product): it
re-derives (a) every stored index ROW (cell + codes straight off the
parquet files, no product reader), (b) the sidecar codebooks against
independent training, and (c) the probe results of the entry.

Entries audited here: ann_ivf_pq_persisted (the ann_ivf_pq it mirrors
is audited in batch 7).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from duckdb_redis_olap_scanner_spark.operators import ann_index as AI
from duckdb_redis_olap_scanner_spark.plans.catalog import registry, table

from .conftest import SF_DIR
from .test_third_opinion7 import (
    N_IVF_CELLS,
    PQ_M,
    _codes,
    _coarse_cells,
    _l2,
    _pq_train,
    vecs,  # noqa: F401 — module fixture reused
)


@pytest.fixture(scope="module")
def built(spark, vecs, tmp_path_factory):  # noqa: F811
    emb = table(spark, SF_DIR, "embeddings")
    coarse, cent, sd = AI.ivf_pq_codebooks(emb, N_IVF_CELLS)
    path = str(tmp_path_factory.mktemp("audit") / "ivfpq")
    AI.write_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), coarse, cent, sd,
        "audit_ivf_pq", path=path,
    )
    AI.append_to_ivf_pq_index(
        emb.filter(F.col("vec_id") % 2 == 1), coarse, cent, sd,
        "audit_ivf_pq",
    )
    yield (coarse, cent, sd, path)
    spark.sql("DROP TABLE IF EXISTS audit_ivf_pq")


def test_sidecar_codebooks_match_independent_training(vecs, built):  # noqa: F811
    coarse, cent, sd = built[0], built[1], built[2]
    ind_cent, ind_sd = _pq_train(vecs)
    assert sd == ind_sd
    assert cent == ind_cent
    ind_coarse = [vecs[i] for i in sorted(vecs) if i < N_IVF_CELLS]
    assert coarse == ind_coarse
    # and the sidecar file itself records the same generations
    sidecar = json.load(
        open(f"{built[3]}/_spark_graft_index.json")
    )["ivf_pq_codebooks"]
    assert sidecar["cent"] == ind_cent and sidecar["coarse"] == ind_coarse


def test_stored_rows_match_independent_encode(vecs, built):  # noqa: F811
    """Every persisted (vec_id, cell, codes) row, read straight off
    the parquet files with pandas — no product reader, no Spark —
    must equal the independent assignment."""
    cent, sd = built[1], built[2]
    stored = pd.read_parquet(built[3])
    got = {
        int(r.vec_id): (int(r.cell), [int(c) for c in r.codes])
        for r in stored.itertuples()
    }
    assert sorted(got) == sorted(vecs)
    _, cell1 = _coarse_cells(vecs, 1)
    for i, x in vecs.items():
        assert got[i] == (cell1[i][0], _codes(x, cent, sd)), f"vec {i}"


def test_entry_rows_match_independent_probe(spark, vecs):  # noqa: F811
    entry = registry()["ann_ivf_pq_persisted"]
    got = sorted(
        (int(r.query_id), int(r.neighbor_id), int(r.cell),
         int(r.adc_dist), int(r.rank))
        for r in entry.fn(spark, SF_DIR).collect()
    )
    cent, sd = _pq_train(vecs)
    codes = {i: _codes(x, cent, sd) for i, x in vecs.items()}
    _, cell1 = _coarse_cells(vecs, 1)
    _, probes = _coarse_cells(vecs, 2)
    ref = []
    for qid in sorted(i for i in vecs if i < 3):
        qv = vecs[qid]
        lut = [[_l2(qv[j * sd: (j + 1) * sd], c) for c in cent[j]]
               for j in range(PQ_M)]
        probe = set(probes[qid])
        scored = sorted(
            (sum(lut[j][codes[n][j]] for j in range(PQ_M)), n, cell1[n][0])
            for n in vecs
            if n != qid and cell1[n][0] in probe
        )
        ref.extend((qid, n, cell, d, rank)
                   for rank, (d, n, cell) in enumerate(scored[:5], start=1))
    assert got == sorted(ref) and len(got) > 0


def _rows_all_match(stored: pd.DataFrame, vecs_d: dict, cent, sd) -> bool:
    """The row-audit predicate of test_stored_rows_match_independent_
    encode, as a boolean — shared so the teeth test exercises the
    SAME comparison it claims has teeth."""
    _, cell1 = _coarse_cells(vecs_d, 1)
    for r in stored.itertuples():
        want = (cell1[int(r.vec_id)][0], _codes(vecs_d[int(r.vec_id)],
                                                cent, sd))
        if (int(r.cell), [int(c) for c in r.codes]) != want:
            return False
    return True


def test_audit_has_teeth_planted_code_corruption_detected(
    vecs, built  # noqa: F811
):
    """Flip ONE stored code in the frame and re-run the exact row
    audit: it must flip from all-match to mismatch — proof the audit
    re-derives codes rather than trusting counts or shapes."""
    cent, sd = built[1], built[2]
    stored = pd.read_parquet(built[3])
    assert _rows_all_match(stored, vecs, cent, sd)
    mutated = stored.copy()
    codes0 = [int(c) for c in mutated.iloc[0].codes]
    codes0[0] = (codes0[0] + 1) % len(cent[0])
    mutated.iat[0, mutated.columns.get_loc("codes")] = codes0
    assert not _rows_all_match(mutated, vecs, cent, sd)

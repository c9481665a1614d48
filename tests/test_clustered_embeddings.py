"""CLUSTERED-EMBEDDINGS differential walk (VERDICT r9 #2, battery half).

Every registered recall/occupancy number before round 10 rode the
decorrelated noise fixture, where trained IVF cells come out balanced
and near-duplicate cosine mass is negligible. This sweep derives a
PLANTED-CLUSTER variant of the embeddings table — the same blend as
q343's in-plan derivation (emb' = unit-normalize(2·anchor + emb),
anchors = the first 5 vectors, Zipf shares 8/4/2/1/1 over vec_id % 16)
— and walks EVERY oracled query differentially against it. The hunting
ground is the ANN/clustering/embedding-dedup families: first-k inits
landing inside one planted cluster, cells emptying under Lloyd, q129's
giant-cluster split facing an actually-giant cluster, q78's near-dup
blocks suddenly dense with high-cosine pairs, PQ codebooks trained on
collapsed subspace distributions.

The fixture is built with numpy in float64 and narrowed to float32 —
both engines read the SAME parquet, so cross-engine exactness is purely
the queries' own discipline (what the battery tests).

Gated behind SPARK_GRAFT_CLUSTERED_SWEEP=1:

    SPARK_GRAFT_CLUSTERED_SWEEP=1 python -m pytest tests/test_clustered_embeddings.py -q
"""

from __future__ import annotations

import os
import shutil

import pytest

from eclypsium_etl_spark import registry
from eclypsium_etl_spark.io import source_stamp

from .conftest import FIXTURE_TABLES, SF_CHECK, make_duck
from .parity import compare, derived_fixture

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_CLUSTERED_SWEEP"),
    reason="set SPARK_GRAFT_CLUSTERED_SWEEP=1 to run the clustered walk",
)

QUERIES, ORACLE = registry.load_all()
CORE = sorted(ORACLE)

_N_ANCHORS = 5
_BLEND = 2.0
# vec_id % 16 -> anchor index with Zipf shares 8/4/2/1/1
_BUCKETS = [8, 12, 14, 15]


def _anchor_of(g: int) -> int:
    for i, b in enumerate(_BUCKETS):
        if g < b:
            return i
    return len(_BUCKETS)


def _clustered_fixture_dir() -> str:
    """Rewrite embeddings.parquet with planted clusters; copy every
    other table byte-identical. _SUCCESS-marker build discipline."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = source_stamp(os.path.join(SF_CHECK, "embeddings.parquet"))

    def build(tmp: str) -> None:
        src = os.path.join(SF_CHECK, "embeddings.parquet")
        t = pq.read_table(src)
        vec_ids = t.column("vec_id").to_numpy()
        emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        order = np.argsort(vec_ids)
        id_to_row = {int(vec_ids[i]): i for i in range(len(vec_ids))}
        anchors = np.stack(
            [emb[id_to_row[a]] for a in range(_N_ANCHORS)]
        )
        aidx = np.array([_anchor_of(int(v) % 16) for v in vec_ids])
        blend = _BLEND * anchors[aidx] + emb
        norm = np.sqrt((blend * blend).sum(axis=1, keepdims=True))
        clustered = (blend / norm).astype(np.float32)
        del order
        arr = pa.array(
            [row.tolist() for row in clustered],
            type=t.schema.field("embedding").type,
        )
        out_t = t.set_column(
            t.schema.get_field_index("embedding"), "embedding", arr
        )
        pq.write_table(out_t, os.path.join(tmp, "embeddings.parquet"))
        for name in FIXTURE_TABLES:
            if name == "embeddings":
                continue
            shutil.copyfile(
                os.path.join(SF_CHECK, f"{name}.parquet"),
                os.path.join(tmp, f"{name}.parquet"),
            )

    return derived_fixture(f"clufx_v1_{os.path.basename(SF_CHECK)}_{stamp}", build)


@pytest.fixture(scope="session")
def clu_fx() -> str:
    return _clustered_fixture_dir()


@pytest.fixture(scope="session")
def duck_clu(clu_fx):
    return make_duck(clu_fx)


def test_clusters_actually_planted(duck_clu):
    """Guards: unit norms survived the rewrite (the q136 ingest
    contract), and the corpus is genuinely clustered — the mean cosine
    of the hot anchor's cohort to its anchor must be high, where on the
    noise fixture it is ~0."""
    lo, hi = duck_clu.execute(
        "SELECT MIN(list_sum(list_transform(embedding, x -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), "
        "MAX(list_sum(list_transform(embedding, x -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) FROM embeddings"
    ).fetchone()
    assert abs(lo - 1.0) < 1e-3 and abs(hi - 1.0) < 1e-3
    mean_cos = duck_clu.execute(
        """
        SELECT AVG(list_sum(list_transform(
                   list_zip(e.embedding, a.embedding),
                   s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
        FROM embeddings e JOIN embeddings a ON a.vec_id = 0
        WHERE e.vec_id % 16 < 8 AND e.vec_id >= 16
        """
    ).fetchone()[0]
    assert mean_cos > 0.8, f"hot cohort mean cosine {mean_cos:.3f}"


@pytest.mark.parametrize("name", CORE)
def test_clustered_core_parity(name, spark, clu_fx, duck_clu):
    ok, detail = compare(
        QUERIES[name](spark, clu_fx), duck_clu, ORACLE[name]
    )
    assert ok, f"{name} on clustered embeddings: {detail}"

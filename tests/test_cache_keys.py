"""Pins for the input-keyed memo and store contracts (state.py):
tmp-backed stores key on the FULL input path and its fingerprint,
session memos hit within a session and miss when their params or
their input's bytes change, and ``catalog.release_caches`` is the one
release path of every memo.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ex9_big_data_gal_drimer_spark import state
from ex9_big_data_gal_drimer_spark.catalog import (
    cache_tables,
    load_table,
    release_caches,
    release_query_caches,
)
from ex9_big_data_gal_drimer_spark.plans import QUERIES
from ex9_big_data_gal_drimer_spark.plans.queries_semdedup import trained_centroids

from conftest import SF_DIR


def _copy_sf(tmp_path) -> str:
    """A writable copy of the test sf_dir, so a test may rewrite it."""
    sf = str(tmp_path / os.path.basename(SF_DIR.rstrip("/")))
    shutil.copytree(SF_DIR, sf)
    for name in os.listdir(sf):
        os.chmod(os.path.join(sf, name), 0o644)
    return sf


def _rewrite(sf: str, table: str, edit) -> None:
    """Rewrite ``table`` at the same path with ``edit(arrow_table)``."""
    path = os.path.join(sf, f"{table}.parquet")
    pq.write_table(edit(pq.read_table(path)), path)


def test_store_path_distinguishes_same_basename_dirs(tmp_path):
    """Two corpora both named 'sf0.01' under different parents must
    map to DIFFERENT store locations — the stale-cache collision the
    basename-only keying allowed."""
    a = tmp_path / "corpus_a" / "sf0.01"
    b = tmp_path / "corpus_b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    ta, tb = state.store_path("layout", str(a)), state.store_path("layout", str(b))
    assert ta != tb
    # both still carry the human-readable basename
    assert os.path.basename(ta).startswith("ex9_layout_sf0_01_")
    assert os.path.basename(tb).startswith("ex9_layout_sf0_01_")
    # stable across calls and trailing-slash spelling
    assert state.store_path("layout", str(a) + "/") == ta
    # params and the directory's content are part of the key
    assert state.store_path("layout", str(a), 16) != ta
    (a / "orders.parquet").write_bytes(b"x")
    assert state.store_path("layout", str(a)) != ta


def test_trained_centroids_memoizes_per_session(spark):
    """Second call with identical (session, input, k, n_iter) must
    return the SAME relation without retraining (the memo is the
    train-once-serve-many contract knn_ivf_trained/semdedup share)."""
    first = trained_centroids(spark, SF_DIR, k=8, n_iter=1)
    second = trained_centroids(spark, SF_DIR, k=8, n_iter=1)
    assert second is first
    # different hyperparameters miss the memo
    other = trained_centroids(spark, SF_DIR, k=4, n_iter=1)
    assert other is not first
    assert first.count() == 8 and other.count() == 4


def test_rewritten_input_misses_every_memo_and_store(spark, tmp_path):
    """Rewriting a parquet file at the SAME path must miss the schema
    memo, the cached-table entry, the model memo and the write-once
    state store — a path-only key serves state built from the old
    bytes."""
    sf = _copy_sf(tmp_path)

    # schema memo: a column added on rewrite must show up
    assert "r_extra" not in load_table(spark, sf, "region").columns
    _rewrite(
        sf, "region",
        lambda t: t.append_column("r_extra", pa.array([1] * t.num_rows)),
    )
    assert "r_extra" in load_table(spark, sf, "region").columns

    # cached-table entry: the cache must not serve the old rows
    cache_tables(spark, sf, ("nation",))
    n_before = load_table(spark, sf, "nation").count()
    _rewrite(sf, "nation", lambda t: t.slice(0, 5))
    assert n_before > 5
    assert load_table(spark, sf, "nation").count() == 5
    cache_tables(spark, sf, ("nation",))
    assert load_table(spark, sf, "nation").count() == 5

    # model memo: a changed corpus retrains
    first = trained_centroids(spark, sf, k=2, n_iter=1)
    assert trained_centroids(spark, sf, k=2, n_iter=1) is first
    _rewrite(sf, "embeddings", lambda t: t.slice(0, t.num_rows // 2))
    again = trained_centroids(spark, sf, k=2, n_iter=1)
    assert again is not first
    assert sorted(map(tuple, again.collect())) != sorted(map(tuple, first.collect()))

    # write-once store: incremental_cc_maintenance's settled state is
    # rebuilt, so a document dropped on rewrite leaves the result
    q = QUERIES["incremental_cc_maintenance"]
    before = {r["doc_id"] for r in q(spark, sf).collect()}
    # query caches live for one request (harnesses release them after
    # each); what must not survive the rewrite is the on-disk store
    release_query_caches()
    dropped = min(before)
    _rewrite(
        sf, "documents", lambda t: t.filter(pc.not_equal(t["doc_id"], dropped))
    )
    after = {r["doc_id"] for r in q(spark, sf).collect()}
    assert dropped not in after


def test_release_caches_drops_every_memo(spark, tmp_path):
    """catalog.release_caches is the one release path: afterwards every
    memo of the session misses and no memoized frame stays persisted."""
    from ex9_big_data_gal_drimer_spark.plans.queries_hotels import _hotels_table
    from ex9_big_data_gal_drimer_spark.plans.queries_llm_scale import (
        ann_method_leg,
    )

    sf = _copy_sf(tmp_path)
    cache_tables(spark, sf, ("nation",))
    _hotels_table(spark).count()
    ann_method_leg(spark, sf, "exact").count()
    trained_centroids(spark, sf, k=2, n_iter=1)

    app = spark.sparkContext.applicationId
    held = {s: v for s, (_, v) in state._MEMO.items() if s[0] == app}
    kinds = {s[1] for s in held}
    assert {"schema", "cached_table", "hotels_table", "ann_leg"} <= kinds
    frames = [
        f
        for v in held.values()
        for f in (v if isinstance(v, tuple) else (v,))
        if hasattr(f, "storageLevel")
    ]
    assert any(f.storageLevel.useMemory for f in frames)

    release_caches(spark)

    for _, kind, path, params in held:
        assert state.memo(spark, kind, path, *params) is None
    for f in frames:
        level = f.storageLevel
        assert not (level.useMemory or level.useDisk), level

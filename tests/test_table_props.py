"""Table properties (``M.TABLE_PROPS``) under the one carry rule of
``_try_commit``: every property carries from the parent, a key in
``props`` overrides it, an explicit None clears it.

Pinned here:
- the checkpoint codec and the action replay agree on every property;
- CLONE copies every property, RESTORE states every property of its
  target (so one the target lacks is cleared);
- a DDL commit that names one property keeps all the others (the
  identity/generated ALTERs used to drop the bloom property);
- a property ALTER racing an append: the property lands on whichever
  parent the CAS wins, and an append whose files predate a generated
  column fails instead of committing NULLs for it.
"""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.sinks import manifest as M


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("p"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )


@pytest.fixture(scope="module")
def snaps(spark, tmp_path_factory):
    """One table with all seven properties set, committed past the
    first checkpoint; the snapshots the tests compare."""
    root = tmp_path_factory.mktemp("props")
    t = str(root / "t")
    M.create_table(t, "k BIGINT, p STRING, v STRING", partition_by=["p"])
    M.add_generated_column(t, "g", "BIGINT", "k * 2")
    M.add_identity_column(t, "id")
    before_bloom = M.current_version(t)
    M.write_table(_batch(spark, 0, 20), t, mode="append", bloom_cols=["k"], cluster_by=["k"])
    M.add_constraint(spark, t, "k_nonneg", "k >= 0")
    M.rename_column(t, "v", "w")
    while M.current_version(t) < M.CHECKPOINT_INTERVAL:
        lo = M.current_version(t) * 10
        batch = _batch(spark, lo, lo + 10).withColumnRenamed("v", "w")
        M.write_table(batch, t, mode="append")
    v = M.CHECKPOINT_INTERVAL
    store = M.get_log_store(t)
    assert store.exists(store.join(t, M._MANIFEST_DIR, M._ckpt_name(v)))
    M._SNAPSHOT_CACHE.clear()
    decoded = M.read_manifest(t, v)  # anchored at the checkpoint
    replayed = functools.reduce(
        M._apply_action,
        [M._read_commit_doc(t, i) for i in range(1, v + 1)],
        dict(M._EMPTY_SNAPSHOT),
    )
    source = M.read_manifest(t, M.current_version(t))
    M.clone_table(t, str(root / "clone"))
    clone = M.read_manifest(str(root / "clone"), 1)
    restored = M.read_manifest(t, M.restore_table(t, version=before_bloom))
    return {
        "decoded": decoded,
        "replayed": replayed,
        "source": source,
        "clone": clone,
        "target": M.read_manifest(t, before_bloom),
        "restored": restored,
    }


def test_every_property_is_set(snaps):
    assert all(snaps["source"].get(k) for k in M.TABLE_PROPS)


@pytest.mark.parametrize("prop", M.TABLE_PROPS)
def test_checkpoint_decode_equals_action_replay(snaps, prop):
    assert snaps["decoded"].get(prop)
    assert snaps["decoded"].get(prop) == snaps["replayed"].get(prop)


@pytest.mark.parametrize("prop", M.TABLE_PROPS)
def test_clone_copies_property(snaps, prop):
    assert snaps["clone"].get(prop) == snaps["source"].get(prop)


@pytest.mark.parametrize("prop", M.TABLE_PROPS)
def test_restore_states_target_property(snaps, prop):
    assert snaps["restored"].get(prop) == snaps["target"].get(prop)


def test_restore_before_bloom_clears_bloom(snaps):
    assert snaps["source"].get("bloom_conf")
    assert snaps["restored"].get("bloom_conf") is None


def test_unknown_property_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    with pytest.raises(ValueError, match="unknown table properties"):
        M._try_commit(t, 1, [], None, _batch(spark, 0, 1).schema.json(), props={"bloom": {}})


@pytest.mark.parametrize(
    "alter",
    [
        lambda t: M.add_identity_column(t, "id"),
        lambda t: M.add_generated_column(t, "g", "BIGINT", "k * 2"),
    ],
    ids=["add_identity_column", "add_generated_column"],
)
def test_empty_table_alter_keeps_bloom_property(spark, tmp_path, alter):
    """A partitioned bloom table emptied by DROP PARTITION still carries
    its bloom property; an ALTER that adds an identity or generated
    column must keep it, so the next append still writes a sidecar."""
    t = str(tmp_path / "t")
    M.write_table(_batch(spark, 0, 20), t, partition_by=["p"], bloom_cols=["k"])
    M.drop_partition(t, {"p": "a"})
    M.drop_partition(t, {"p": "b"})
    m = M.read_manifest(t, M.current_version(t))
    assert m["files"] == [] and m.get("bloom_conf")
    alter(t)
    m = M.read_manifest(t, M.current_version(t))
    assert (m.get("bloom_conf") or {}).get("cols") == ["k"]
    M.write_table(_batch(spark, 20, 30), t, mode="append")
    m = M.read_manifest(t, M.current_version(t))
    assert m["files"]
    assert all((m.get("stats") or {}).get(f, {}).get("bloom") for f in m["files"])


def test_rename_losing_the_cas_to_an_append_lands_on_the_append(spark, tmp_path):
    """An append commits while RENAME COLUMN attempts its CAS: the
    rename retries on the append's version, so the committed version
    carries the column mapping over every file of both."""
    t = str(tmp_path / "t")
    M.write_table(spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS price"), t)
    orig = M._try_commit
    raced = []

    def append_first(table, *args, **kwargs):
        if not raced and kwargs.get("operation") == "rename_column":
            raced.append(M.write_table(
                spark.range(5, 7).selectExpr("id AS k", "CAST(id AS DOUBLE) AS price"), t, mode="append"
            ))
        return orig(table, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "_try_commit", append_first)
        v = M.rename_column(t, "price", "amount")
    assert raced == [2] and v == 3
    appended, renamed = M.read_manifest(t, 2), M.read_manifest(t, 3)
    assert appended.get("column_mapping") is None
    assert renamed["column_mapping"] == {"k": "k", "amount": "price"}
    assert set(renamed["files"]) == set(appended["files"])
    out = M.read_table(spark, t)
    assert out.columns == ["k", "amount"]
    assert sorted(tuple(r) for r in out.collect()) == [(i, float(i)) for i in range(7)]


def test_generated_alter_landing_mid_append_wins_the_cas(spark, tmp_path):
    """ADD GENERATED COLUMN commits while an append writes its files:
    the ALTER's version is the parent the append's CAS now meets, and
    the append's files hold no value for the new column — the append
    fails loudly, and a re-run materializes the column."""
    t = str(tmp_path / "t")
    M.create_table(t, "k BIGINT, price DOUBLE")
    rows = spark.range(5, 7).selectExpr("id AS k", "CAST(id AS DOUBLE) AS price")
    orig = M._write_data_files
    altered = []

    def alter_mid_write(df, table, **kw):
        files = orig(df, table, **kw)
        if not altered:
            altered.append(M.add_generated_column(t, "p2", "double", "price * 2"))
        return files

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "_write_data_files", alter_mid_write)
        with pytest.raises(RuntimeError, match="generated columns"):
            M.write_table(rows, t, mode="append")
    assert altered == [2] and M.current_version(t) == 2
    assert M.read_manifest(t, 2)["files"] == []
    assert M.write_table(rows, t, mode="append") == 3
    assert M.read_manifest(t, 3)["generated"] == {"p2": {"expr": "price * 2", "type": "double"}}
    assert sorted(tuple(r) for r in M.read_table(spark, t).collect()) == [(5, 5.0, 10.0), (6, 6.0, 12.0)]


def test_wap_publish_keeps_bloom_and_stats(spark, tmp_path):
    """A published stage adds its files like an append: each carries the
    table's bloom sidecar and stats for the tracked column, so a point
    lookup keeps only the one file holding the key."""
    t = str(tmp_path / "t")

    def rows(lo, hi, n):
        return spark.range(lo, hi).selectExpr("id AS k", "CAST(id AS STRING) AS v").repartition(n)

    M.write_table(rows(0, 400, 4), t, bloom_cols=["k"], stats_cols=["k"])
    M.write_table(rows(400, 600, 2), t, mode="append")
    M.publish_staged(t, M.stage_commit(rows(600, 800, 2), t))
    m = M.read_manifest(t, M.current_version(t))
    assert len(m["files"]) == 8
    for f in m["files"]:
        entry = m["stats"].get(f) or {}
        assert entry.get("bloom") and "k" in (entry.get("cols") or {}), (f, entry)
    hit = M.read_table(spark, t, skip=("k", "==", 100))
    assert len(hit.inputFiles()) == 1
    assert [r["k"] for r in hit.collect()] == [100]

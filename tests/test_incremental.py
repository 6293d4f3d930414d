"""Incremental (dynamic) validation tests: delta batches must produce verdicts
identical to a full recompute over the post-delta table (the cross-validation
rule the reference applies between dynamic and static verifiers), and must only
rewrite touched partitions."""

import pytest
from pyspark.sql import functions as F

from pyspark_validator.checks.fd import fd_check
from pyspark_validator.checks.ucc import ucc_check
from pyspark_validator.incremental import IncrementalFD, IncrementalUCC


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


VERDICT_COLS = [
    "partition_id",
    "n_rows",
    "n_distinct",
    "n_violating_clusters",
    "n_violating_rows",
    "violating_pairs",
    "holds",
]


def test_incremental_ucc_matches_full_recompute(spark, tmp_path):
    base = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "ucc"), ["k"], num_partitions=8)
    inc.initialize(base)
    # baseline: unique -> all partitions hold
    v0 = inc.verdicts()
    assert all(r.holds for r in v0.collect())

    # delta: insert dup of 7, a fresh 200, delete 50
    ins = spark.createDataFrame([(7,), (200,)], ["k"])
    dele = spark.createDataFrame([(50,)], ["k"])
    touched = inc.apply_delta(inserts=ins, deletes=dele)
    # touched partitions only
    t_pids = {r.partition_id for r in touched.collect()}
    assert 0 < len(t_pids) <= 3

    # full recompute oracle on the post-delta table
    post = base.filter(F.col("k") != 50).unionByName(ins)
    full = ucc_check(post, ["k"], num_partitions=8).verdicts()
    assert _sorted_rows(inc.verdicts(), VERDICT_COLS) == _sorted_rows(
        full, VERDICT_COLS
    )
    # the duplicate is detected
    s = inc.verdicts().agg(F.sum("n_violating_clusters").alias("v")).collect()[0]
    assert s.v == 1


def test_incremental_ucc_delta_then_fix(spark, tmp_path):
    base = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "ucc2"), ["k"], num_partitions=4)
    inc.initialize(base)
    inc.apply_delta(inserts=spark.createDataFrame([(3,)], ["k"]))
    assert not all(r.holds for r in inc.verdicts().collect())
    # deleting one copy of the dup restores uniqueness everywhere
    inc.apply_delta(deletes=spark.createDataFrame([(3,)], ["k"]))
    assert all(r.holds for r in inc.verdicts().collect())
    assert inc.state.current_version() == 2


FD_VERDICT_COLS = [
    "partition_id",
    "n_rows",
    "n_distinct_x",
    "n_distinct_xy",
    "n_error_clusters",
    "n_error_rows",
    "conflict_pairs",
    "holds",
]


def test_incremental_fd_matches_full_recompute(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, i % 10, f"y{i % 10}") for i in range(100)], ["rid", "x", "y"]
    ).drop("rid")
    inc = IncrementalFD(spark, str(tmp_path / "fd"), ["x"], ["y"], num_partitions=8)
    inc.initialize(base)
    assert all(r.holds for r in inc.verdicts().collect())

    # break the FD for x=3 with a conflicting y; also delete one (5, y5) row
    ins = spark.createDataFrame([(3, "OTHER")], ["x", "y"])
    dele = spark.createDataFrame([(5, "y5")], ["x", "y"])
    inc.apply_delta(inserts=ins, deletes=dele)

    # build post table explicitly: remove ONE (5, y5) row
    rows = [(i % 10, f"y{i % 10}") for i in range(100)]
    rows.remove((5, "y5"))
    rows.append((3, "OTHER"))
    post = spark.createDataFrame(rows, ["x", "y"])
    full = fd_check(post, ["x"], ["y"], num_partitions=8).verdicts()
    assert _sorted_rows(inc.verdicts(), FD_VERDICT_COLS) == _sorted_rows(
        full, FD_VERDICT_COLS
    )


def test_incremental_requires_init(spark, tmp_path):
    inc = IncrementalUCC(spark, str(tmp_path / "none"), ["k"])
    with pytest.raises(ValueError, match="initialize"):
        inc.verdicts()


def test_incremental_fd_afd_measures_track_static(spark, tmp_path):
    """DynamicAFD analog: after delta batches, measures from state must equal a
    static afd_measures() over the post-delta table (the reference's
    dynamic_verifying_afd workflow)."""
    from pyspark_validator.checks.fd import fd_check as static_fd

    rows = [(i % 7, f"y{i % 3}") for i in range(60)]
    base = spark.createDataFrame(rows, ["x", "y"])
    inc = IncrementalFD(spark, str(tmp_path / "afd"), ["x"], ["y"], num_partitions=4)
    inc.initialize(base)
    inc.apply_delta(
        inserts=spark.createDataFrame([(1, "zz"), (2, "y0")], ["x", "y"]),
        deletes=spark.createDataFrame([(3, "y0")], ["x", "y"]),
    )
    post_rows = rows + [(1, "zz"), (2, "y0")]
    post_rows.remove((3, "y0"))
    post = spark.createDataFrame(post_rows, ["x", "y"])
    got = inc.afd_measures().collect()[0]
    exp = static_fd(post, ["x"], ["y"], num_partitions=4).afd_measures().collect()[0]
    for f in ["g1", "g2", "pdep", "tau", "mu_plus", "rho", "fi"]:
        assert float(got[f]) == pytest.approx(float(exp[f])), f
    assert (got.n_rows, got.n_distinct_x, got.n_distinct_xy) == (
        exp.n_rows,
        exp.n_distinct_x,
        exp.n_distinct_xy,
    )


def test_incremental_delta_rewrites_only_touched_partitions(spark, tmp_path):
    """The scale claim of the incremental engine: a delta must write ONLY the
    touched partition_id= directories; every untouched partition's files are
    carried into the new manifest by reference and stay byte-identical."""
    import json
    import os

    base = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "nrw"), ["k"], num_partitions=8)
    inc.initialize(base)
    st = inc.state
    man0 = st.manifest()
    assert len(man0) == 8 and all(rel.startswith("v0/") for rel in man0.values())
    snapshot = {}
    for pid, rel in man0.items():
        d = os.path.join(st.path, rel)
        snapshot[pid] = {
            f: (os.path.getmtime(p), os.path.getsize(p), open(p, "rb").read())
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
            for p in [os.path.join(d, f)]
        }

    touched_df = inc.apply_delta(inserts=spark.createDataFrame([(7,)], ["k"]))
    touched = {str(r.partition_id) for r in touched_df.collect()}
    assert len(touched) == 1

    man1 = st.manifest()
    # v1 holds only the touched partition; untouched entries are unchanged refs
    v1 = os.path.join(st.path, "v1")
    v1_parts = sorted(n for n in os.listdir(v1) if n.startswith("partition_id="))
    assert v1_parts == [f"partition_id={p}" for p in sorted(touched)]
    for pid, rel in man1.items():
        if pid in touched:
            assert rel.startswith("v1/")
        else:
            assert rel == man0[pid]
            d = os.path.join(st.path, rel)
            now = {
                f: (os.path.getmtime(p), os.path.getsize(p), open(p, "rb").read())
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
                for p in [os.path.join(d, f)]
            }
            assert now == snapshot[pid]

    # verdicts across versions still match a full recompute
    post = base.unionByName(spark.createDataFrame([(7,)], ["k"]))
    full = ucc_check(post, ["k"], num_partitions=8).verdicts()
    assert _sorted_rows(inc.verdicts(), VERDICT_COLS) == _sorted_rows(
        full, VERDICT_COLS
    )


def test_incremental_delete_all_rows_of_partition(spark, tmp_path):
    """A touched partition whose rows all delete out drops from the manifest
    and from verdicts (empty-partition edge of the manifest merge)."""
    base = spark.createDataFrame([(1,), (2,)], ["k"])
    inc = IncrementalUCC(spark, str(tmp_path / "empt"), ["k"], num_partitions=4)
    inc.initialize(base)
    n0 = inc.verdicts().count()
    inc.apply_delta(deletes=spark.createDataFrame([(1,)], ["k"]))
    assert inc.verdicts().count() == n0 - 1
    assert inc.verdicts().agg(F.sum("n_rows").alias("s")).collect()[0].s == 1


def test_state_vacuum_reference_based(spark, tmp_path):
    """vacuum keeps every file a retained manifest references (even in old
    version dirs -- carry-by-reference), deletes unreferenced dirs and old
    manifests, and never changes what read()/verdicts() return."""
    import os

    from pyspark_validator.incremental import IncrementalUCC

    eng = IncrementalUCC(spark, str(tmp_path / "s"), ["k"], num_partitions=4)
    eng.initialize(spark.createDataFrame([(i,) for i in range(20)], ["k"]))
    for i in range(3):  # each delta touches a subset of partitions
        eng.apply_delta(inserts=spark.createDataFrame([(100 + i,)], ["k"]))
    before = eng.verdicts().orderBy("partition_id").collect()
    st = eng.state
    manifests = [f for f in os.listdir(st.path) if f.startswith("manifest_v")]
    assert len(manifests) == 4

    stats = st.vacuum(keep_last=1)
    assert stats["manifests_deleted"] == 3
    assert stats["dirs_deleted"] >= 1  # superseded touched-partition dirs
    after = eng.verdicts().orderBy("partition_id").collect()
    assert before == after
    for rel in st.manifest().values():  # every live reference still on disk
        assert os.path.isdir(os.path.join(st.path, rel))

    # keep_last=2 retains the previous snapshot's manifest for time travel
    eng.apply_delta(inserts=spark.createDataFrame([(200,)], ["k"]))
    st.vacuum(keep_last=2)
    assert st.manifest(st.current_version() - 1)
    # vacuuming an empty state is a no-op
    from pyspark_validator.incremental import _IncrementalState

    empty = _IncrementalState(spark, str(tmp_path / "none"))
    assert empty.vacuum() == {"manifests_deleted": 0, "dirs_deleted": 0}


def test_incremental_ucc_multi_column_key(spark, tmp_path):
    """A two-column key: the incremental partition id (hash of the key struct)
    and every verdict field equal the batch check's on the post-delta table."""
    schema = "a int, b string"
    rows = [(i % 9, f"b{i % 4}") for i in range(60)] + [(None, "b0"), (3, None)]
    base = spark.createDataFrame(rows, schema)
    inc = IncrementalUCC(spark, str(tmp_path / "uab"), ["a", "b"], num_partitions=8)
    inc.initialize(base)
    ins = [(1, "b1"), (50, "b9"), (7, "zz")]
    dels = [(0, "b0"), (8, "b0")]
    inc.apply_delta(
        inserts=spark.createDataFrame(ins, schema),
        deletes=spark.createDataFrame(dels, schema),
    )
    post_rows = rows + ins
    for r in dels:
        post_rows.remove(r)
    full = ucc_check(
        spark.createDataFrame(post_rows, schema), ["a", "b"], num_partitions=8
    ).verdicts()
    cols = VERDICT_COLS + ["aucc_error"]
    assert _sorted_rows(inc.verdicts(), cols) == _sorted_rows(full, cols)
    assert not all(r.holds for r in inc.verdicts().collect())


def test_incremental_fd_overlapping_lhs_rhs(spark, tmp_path):
    """{a, b} -> {b, c}: the state keys on the unique column union; verdicts
    and AFD measures still equal the batch check on the post-delta table."""
    schema = "a int, b int, c string"
    rows = [(i % 6, i % 4, f"c{i % 5}") for i in range(80)]
    base = spark.createDataFrame(rows, schema)
    inc = IncrementalFD(
        spark, str(tmp_path / "fdov"), ["a", "b"], ["b", "c"], num_partitions=8
    )
    inc.initialize(base)
    ins = [(0, 0, "new"), (9, 9, "c1"), (1, 1, "c1")]
    dels = [(2, 2, "c2"), (5, 1, "c0")]
    inc.apply_delta(
        inserts=spark.createDataFrame(ins, schema),
        deletes=spark.createDataFrame(dels, schema),
    )
    post_rows = rows + ins
    for r in dels:
        post_rows.remove(r)
    static = fd_check(
        spark.createDataFrame(post_rows, schema), ["a", "b"], ["b", "c"],
        num_partitions=8,
    )
    cols = FD_VERDICT_COLS + ["g1_error"]
    assert _sorted_rows(inc.verdicts(), cols) == _sorted_rows(static.verdicts(), cols)
    got = inc.afd_measures().collect()[0]
    exp = static.afd_measures().collect()[0]
    for f in ["g1", "g2", "pdep", "tau", "mu_plus", "rho", "fi"]:
        assert float(got[f]) == pytest.approx(float(exp[f])), f
    assert (got.n_rows, got.n_distinct_x, got.n_distinct_xy) == (
        exp.n_rows,
        exp.n_distinct_x,
        exp.n_distinct_xy,
    )


def test_vacuum_keeps_committed_version_after_crashed_delta(
    spark, tmp_path, monkeypatch
):
    """A delta killed before _meta.json commits it leaves a newer manifest on
    disk. vacuum retains by committed version and deletes that manifest as an
    orphan; the committed state stays readable."""
    import os

    from pyspark_validator.incremental import _IncrementalState

    base = spark.createDataFrame([(i,) for i in range(20)], ["k"])
    eng = IncrementalUCC(spark, str(tmp_path / "crash"), ["k"], num_partitions=4)
    eng.initialize(base)
    eng.apply_delta(inserts=spark.createDataFrame([(100,)], ["k"]))
    st = eng.state

    def killed(self, version, schema_json):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(_IncrementalState, "_save_meta", killed)
    with pytest.raises(RuntimeError, match="killed"):
        # touches every partition, so v2 supersedes all of v1's directories
        eng.apply_delta(
            inserts=spark.createDataFrame([(i,) for i in range(200, 240)], ["k"])
        )
    monkeypatch.undo()
    assert st.current_version() == 1
    assert os.path.exists(st._manifest_path(2))

    st.vacuum(keep_last=1)
    assert os.path.exists(st._manifest_path(1))
    assert not os.path.exists(st._manifest_path(2))
    for rel in st.manifest().values():
        assert os.path.isdir(os.path.join(st.path, rel))
    post = base.unionByName(spark.createDataFrame([(100,)], ["k"]))
    full = ucc_check(post, ["k"], num_partitions=4).verdicts()
    assert _sorted_rows(eng.verdicts(), VERDICT_COLS) == _sorted_rows(
        full, VERDICT_COLS
    )


def test_state_survives_a_meta_write_killed_midway(spark, tmp_path, monkeypatch):
    """A failure while _meta.json is being written must leave the previous
    version readable (no truncated file), and the delta can be retried."""
    import json

    base = spark.createDataFrame([(i,) for i in range(20)], ["k"])
    eng = IncrementalUCC(spark, str(tmp_path / "meta"), ["k"], num_partitions=4)
    eng.initialize(base)
    before = _sorted_rows(eng.verdicts(), VERDICT_COLS)
    real_dump = json.dump

    def dump_dies_on_meta(obj, f, *args, **kwargs):
        if isinstance(obj, dict) and "version" in obj:  # the _meta.json commit
            f.write('{"version": ')
            raise RuntimeError("killed mid-write")
        return real_dump(obj, f, *args, **kwargs)

    monkeypatch.setattr(json, "dump", dump_dies_on_meta)
    dup = spark.createDataFrame([(3,)], ["k"])
    with pytest.raises(RuntimeError, match="mid-write"):
        eng.apply_delta(inserts=dup)
    monkeypatch.undo()
    assert eng.state.current_version() == 0
    assert _sorted_rows(eng.verdicts(), VERDICT_COLS) == before

    eng.apply_delta(inserts=dup)  # the retry commits version 1
    assert eng.state.current_version() == 1
    full = ucc_check(base.unionByName(dup), ["k"], num_partitions=4).verdicts()
    assert _sorted_rows(eng.verdicts(), VERDICT_COLS) == _sorted_rows(
        full, VERDICT_COLS
    )

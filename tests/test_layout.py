"""Physical-layout hints for table/incremental materializations
(round 8, beyond-reference): per-model ``partition_by`` (hive-style
directory layout → planning-time partition pruning) and ``cluster_by``
(sortWithinPartitions → contiguous row groups, min/max pruning). The
100 TB rationale lives on ``Node._layout``; these tests pin the layout
on disk, the pruning in the plan, the small-files guarantee, the merge
interaction, and the fail-loud column check."""

import glob
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arnab_spark.catalog import OLD, STAGING
from arnab_spark.config import load_config
from arnab_spark.errors import ArnabError
from arnab_spark.session import Session
from tests.test_incremental import _write

SRC = "/root/testdata/sf0.001/orders.parquet"


def _project(tmp_path, model_cfg):
    root = str(tmp_path)
    _write(root, "models/laid.sql", f"SELECT * FROM read_parquet('{SRC}')")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n  laid:\n"
        + "".join(f"    {line}\n" for line in model_cfg),
    )
    return root


def test_partition_by_writes_hive_dirs_one_file_each(spark, tmp_path):
    root = _project(
        tmp_path, ["materialize: table", "partition_by: o_orderstatus"]
    )
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    dest = os.path.join(root, "warehouse", "laid")
    dirs = sorted(
        d for d in os.listdir(dest) if d.startswith("o_orderstatus=")
    )
    assert dirs == ["o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]
    # the pre-write repartition on the partition columns means each
    # value lands in exactly ONE task → one file per directory (the
    # small-files guarantee)
    for d in dirs:
        files = glob.glob(os.path.join(dest, d, "*.parquet"))
        assert len(files) == 1, (d, files)
    # row parity with the source
    assert report.results["laid"].n_rows == (
        pd.read_parquet(SRC).shape[0]
    )


def test_partition_filter_prunes_at_planning_time(spark, tmp_path):
    root = _project(
        tmp_path, ["materialize: table", "partition_by: o_orderstatus"]
    )
    Session(load_config(root), spark).run(quiet=True)
    plan = (
        spark.table("laid")
        .where("o_orderstatus = 'F'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "o_orderstatus" in plan


def test_cluster_by_sorts_within_files(spark, tmp_path):
    root = _project(
        tmp_path,
        [
            "materialize: table",
            "partition_by: o_orderstatus",
            "cluster_by: o_custkey, o_orderdate",
        ],
    )
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    dest = os.path.join(root, "warehouse", "laid")
    files = glob.glob(os.path.join(dest, "o_orderstatus=*", "*.parquet"))
    assert files
    for f in files:
        pdf = pd.read_parquet(f)[["o_custkey", "o_orderdate"]]
        ordered = pdf.sort_values(["o_custkey", "o_orderdate"]).reset_index(
            drop=True
        )
        assert pdf.reset_index(drop=True).equals(ordered), f


def test_cluster_by_alone_no_partition(spark, tmp_path):
    root = _project(
        tmp_path, ["materialize: table", "cluster_by: o_totalprice"]
    )
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    dest = os.path.join(root, "warehouse", "laid")
    for f in glob.glob(os.path.join(dest, "*.parquet")):
        vals = pd.read_parquet(f)["o_totalprice"]
        assert vals.is_monotonic_increasing, f


def test_incremental_merge_preserves_layout(spark, tmp_path):
    import duckdb

    root = str(tmp_path)
    src = os.path.join(root, "src.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM (VALUES (1, 'x', 'a'), (2, 'y', 'b')) "
        f"t(id, grp, tag)) TO '{src}'"
    )
    _write(root, "models/inc.sql", f"SELECT * FROM read_parquet('{src}')")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n  inc:\n"
        "    materialize: incremental\n    unique_key: id\n"
        "    partition_by: grp\n    cluster_by: id\n",
    )
    Session(load_config(root), spark).run(quiet=True)
    duckdb.sql(
        f"COPY (SELECT * FROM (VALUES (2, 'y', 'B2'), (3, 'x', 'c')) "
        f"t(id, grp, tag)) TO '{src}'"
    )
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    rows = {r.id: r.tag for r in spark.table("inc").collect()}
    assert rows == {1: "a", 2: "B2", 3: "c"}
    dest = os.path.join(root, "warehouse", "inc")
    assert sorted(
        d for d in os.listdir(dest) if d.startswith("grp=")
    ) == ["grp=x", "grp=y"]


@given(
    upd_ids=st.sets(st.integers(min_value=1, max_value=8), max_size=5),
    new_ids=st.sets(st.integers(min_value=9, max_value=12), max_size=3),
    move_grp=st.booleans(),
    partition=st.booleans(),
    cluster=st.sampled_from([None, "id", "id, tag"]),
    keyed=st.booleans(),
)
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_layout_incremental_property_sweep(
    spark, upd_ids, new_ids, move_grp, partition, cluster, keyed
):
    """Round-9 (r8 verdict ask #7): hypothesis sweep over every
    (partition_by, cluster_by, unique_key) combination pinning the
    staged-swap incremental rewrite against partitioned directories.
    Properties per example: (a) merged rows equal the upsert truth
    (new rows win per key, untouched keys survive) or the append truth
    without a key — INCLUDING updates that move a key across partition
    values (the delete must reach the old partition's directory);
    (b) the hive directory set equals exactly the merged result's
    partition values (a vacated partition value leaves no stale dir);
    (c) cluster_by order holds inside every file of the merged write;
    (d) the staged swap leaves no __staging/__old residue."""
    import shutil
    import tempfile

    base_ids = list(range(1, 9))
    snap_a = pd.DataFrame(
        {
            "id": base_ids,
            "grp": [("x" if i % 2 else "y") for i in base_ids],
            "tag": [f"a{i}" for i in base_ids],
        }
    )
    rows_b = []
    for i in sorted(upd_ids):
        old_grp = "x" if i % 2 else "y"
        grp = ("z" if move_grp else old_grp)
        rows_b.append({"id": i, "grp": grp, "tag": f"b{i}"})
    for i in sorted(new_ids):
        rows_b.append({"id": i, "grp": "x", "tag": f"n{i}"})
    if not rows_b:
        rows_b.append({"id": 1, "grp": "x", "tag": "b1"})
    snap_b = pd.DataFrame(rows_b)

    root = tempfile.mkdtemp(prefix="arnab_layout_prop_")
    try:
        src = os.path.join(root, "src.parquet")
        snap_a.to_parquet(src, index=False)
        cfg = ["materialize: incremental"]
        if keyed:
            cfg.append("unique_key: id")
        if partition:
            cfg.append("partition_by: grp")
        if cluster:
            cfg.append(f"cluster_by: {cluster}")
        _write(root, "models/swept.sql", f"SELECT * FROM read_parquet('{src}')")
        _write(
            root,
            "config.yaml",
            "models_dir: models\ndb_path: warehouse\nmodels:\n  swept:\n"
            + "".join(f"    {line}\n" for line in cfg),
        )
        report = Session(load_config(root), spark).run(quiet=True)
        assert report.ok, report.errors
        snap_b.to_parquet(src, index=False)
        report = Session(load_config(root), spark).run(quiet=True)
        assert report.ok, report.errors

        got = sorted(
            (r.id, r.grp, r.tag) for r in spark.table("swept").collect()
        )
        if keyed:
            b_ids = set(snap_b["id"])
            exp_df = pd.concat([snap_b, snap_a[~snap_a["id"].isin(b_ids)]])
        else:
            exp_df = pd.concat([snap_a, snap_b])
        exp = sorted(exp_df.itertuples(index=False, name=None))
        assert got == exp

        dest = os.path.join(root, "warehouse", "swept")
        assert not os.path.isdir(dest + STAGING)
        assert not os.path.isdir(dest + OLD)
        if partition:
            dirs = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(dest)
                if d.startswith("grp=")
            )
            assert dirs == sorted(exp_df["grp"].unique())
        if cluster:
            ccols = [c.strip() for c in cluster.split(",")]
            pattern = (
                os.path.join(dest, "grp=*", "*.parquet")
                if partition
                else os.path.join(dest, "*.parquet")
            )
            for f in glob.glob(pattern):
                pdf = pd.read_parquet(f)[ccols]
                assert pdf.equals(
                    pdf.sort_values(ccols).reset_index(drop=True)
                ), f
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_unknown_layout_column_fails_loud(spark, tmp_path):
    root = _project(
        tmp_path, ["materialize: table", "partition_by: nope"]
    )
    report = Session(load_config(root), spark).run(quiet=True)
    assert not report.ok
    assert "nope" in str(report.errors["laid"])


def test_layout_on_view_is_ignored_harmlessly(spark, tmp_path):
    """Views have no write; hints on a view model are simply unused
    (documented behavior, not an error — a user can flip materialize
    without touching the hints)."""
    root = _project(tmp_path, ["materialize: view", "partition_by: o_orderstatus"])
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    assert spark.table("laid").count() > 0

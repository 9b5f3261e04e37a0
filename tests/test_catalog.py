import pytest

from distributed_computing_projects_spark.catalog import Catalog
from distributed_computing_projects_spark.sources import load_table


def test_put_get_ls_store_delete(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    region = load_table(spark, sf_dir, "region")
    cat.put("region", region)

    assert cat.store() == ["region"]
    got = cat.get("region")
    assert got.count() == region.count()
    assert got.columns == region.columns

    files = cat.ls("region")
    assert files and all(f["bytes"] > 0 for f in files)

    cat.put("region", region.limit(2), mode="overwrite")
    assert cat.get("region").count() == 2

    cat.delete("region")
    assert cat.store() == []


def test_put_refuses_silent_overwrite(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat2"))
    nation = load_table(spark, sf_dir, "nation")
    cat.put("nation", nation)
    try:
        cat.put("nation", nation)
        raised = False
    except FileExistsError:
        raised = True
    assert raised


def test_put_rejects_unknown_mode(spark, sf_dir, tmp_path):
    """A typo'd mode ('append') must raise, not silently overwrite —
    round-1 advisor finding."""
    cat = Catalog(spark, str(tmp_path / "cat3"))
    nation = load_table(spark, sf_dir, "nation")
    cat.put("nation", nation)
    try:
        cat.put("nation", nation, mode="append")
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_put_get_roundtrip_every_format(spark, sf_dir, tmp_path):
    """Format (and for JSON the exact schema) is remembered in the
    _format sidecar; get() is format-agnostic and both rows AND
    dtypes round-trip exactly in all formats — no re-inference."""
    cat = Catalog(spark, str(tmp_path / "cat4"))
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    want = sorted(map(tuple, nation.collect()))
    for fmt in Catalog.FORMATS:
        cat.put(f"nation_{fmt}", nation, fmt=fmt)
        got = cat.get(f"nation_{fmt}")
        assert got.schema == nation.schema, fmt
        assert sorted(map(tuple, got.collect())) == want


def test_empty_json_dataset_roundtrips(spark, sf_dir, tmp_path):
    """An all-filtered JSON dataset has no data lines to infer from;
    the sidecar schema makes get() return the exact empty frame
    (this used to mis-detect as parquet and fail confusingly)."""
    cat = Catalog(spark, str(tmp_path / "cat6"))
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    empty = nation.filter("n_nationkey < 0")
    cat.put("none", empty, fmt="json")
    got = cat.get("none")
    assert got.schema == empty.schema
    assert got.count() == 0


def test_undetectable_dataset_raises(spark, tmp_path):
    """A dataset dir with no sidecar and no recognizable part files
    must raise, not silently default to parquet."""
    import os

    cat = Catalog(spark, str(tmp_path / "cat7"))
    os.makedirs(os.path.join(cat.root, "mystery"))
    try:
        cat.get("mystery")
        raised = False
    except ValueError as e:
        raised = "cannot determine format" in str(e)
    assert raised


def test_pre_sidecar_dataset_falls_back_to_extension(spark, sf_dir,
                                                     tmp_path):
    import os

    cat = Catalog(spark, str(tmp_path / "cat8"))
    nation = load_table(spark, sf_dir, "nation")
    cat.put("legacy", nation)
    os.remove(os.path.join(cat.root, "legacy", Catalog.SIDECAR))
    assert cat.get("legacy").count() == nation.count()


def test_put_rejects_unknown_format(spark, sf_dir, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat5"))
    nation = load_table(spark, sf_dir, "nation")
    try:
        cat.put("nation", nation, fmt="avro")
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_empty_name_is_rejected(spark, sf_dir, tmp_path):
    """An empty name used to resolve to the catalog root, so
    ``delete("")`` removed every dataset."""
    import pytest

    cat = Catalog(spark, str(tmp_path / "cat9"))
    cat.put("nation", load_table(spark, sf_dir, "nation"))
    for call in (cat.delete, cat.ls, cat.get):
        with pytest.raises(ValueError):
            call("")
    with pytest.raises(ValueError):
        cat.put("", load_table(spark, sf_dir, "region"), mode="overwrite")
    assert cat.store() == ["nation"]
    assert cat.get("nation").count() == 25

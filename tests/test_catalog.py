"""Catalog + API-layer semantics (SURVEY.md A4/A5/A10 and the
per-call CRUD paths the batch-based oracle queries don't drive)."""

import json
import os

import pytest

from aws_datalake_framework_api_spark.api import dispatch, health
from aws_datalake_framework_api_spark.catalog import Catalog


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


def _delta_versions(d):
    """Committed ``_delta_log`` versions of the table at ``d``."""
    return sorted(
        int(f[:-5]) for f in os.listdir(os.path.join(d, "_delta_log"))
        if f.endswith(".json")
    )


def _active_files(d, version):
    """Data files active at ``version``: replay of the log's add/remove
    actions, last writer wins."""
    files = set()
    for v in range(version + 1):
        with open(os.path.join(d, "_delta_log", f"{v:020d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    files.add(a["add"]["path"])
                elif "remove" in a:
                    files.discard(a["remove"]["path"])
    return files


def test_create_read_roundtrip(cat):
    assert cat.create("source_system", 1, "alpha", '{"k": 1}')["statusCode"] == 200
    rows = cat.read("source_system", 1).collect()
    assert len(rows) == 1 and rows[0]["name"] == "alpha"
    assert rows[0]["status"] == "active"


def test_duplicate_create_conflicts(cat):
    cat.create("target_system", 5, "t")
    assert cat.create("target_system", 5, "t2")["statusCode"] == 409
    assert cat.load("target_system").count() == 1


def test_update_nonexistent_is_noop_not_upsert(cat):
    cat.create("data_asset", 1, "a")
    res = cat.update("data_asset", 42, status="ghost")
    assert res["statusCode"] == 404 and res["matched"] == 0
    assert cat.load("data_asset").count() == 1  # nothing created


def test_delete_then_read_empty(cat):
    cat.create("source_system", 9, "gone")
    assert cat.delete("source_system", 9)["matched"] == 1
    assert cat.read("source_system", 9).count() == 0


def test_entities_are_isolated_per_type(cat):
    cat.create("source_system", 1, "src")
    cat.create("target_system", 1, "tgt")
    assert cat.read("source_system", 1).collect()[0]["name"] == "src"
    assert cat.read("target_system", 1).collect()[0]["name"] == "tgt"


def test_source_system_provisions_landing_prefix(cat, tmp_path):
    """create_source also provisions storage — the CFT's per-source
    bucket + init/ prefix (cft/sourceSystem.yaml:20-27,77)."""
    cat.create("source_system", 7, "s7")
    assert os.path.isdir(str(tmp_path / "wh" / "lake" / "7" / "init"))


def test_audit_every_call_including_reads(cat):
    cat.create("source_system", 1, "a")
    cat.read("source_system", 1)
    cat.read("source_system", 999)
    cat.flush_audit()
    rows = cat.audit_log().collect()
    methods = [r["method_name"] for r in rows]
    assert methods.count("source_system/create") == 1
    assert methods.count("source_system/read") == 2
    assert all(r["api_call_type"] == "synchronous" for r in rows)
    # every row records the storage path that served the call
    assert {r["catalog_backend"] for r in rows} == {"deltalog"}


def test_conditional_event_update(cat):
    cat._audit("m", None, request_id="r1")
    cat.flush_audit()
    assert cat.update_event_status("r1", "m", "done") == 1
    assert cat.update_event_status("nope", "m", "done") == 0
    statuses = {r["aws_request_id"]: r["status"] for r in cat.audit_log().collect()}
    assert statuses["r1"] == "done"


# ---------------------------------------------------------------- dispatch


def test_health_probe():
    assert health() == {"statusCode": 200, "body": "API health is ok"}


def test_dispatch_routes_and_404s(cat):
    ok = dispatch(cat, "/sourcesystem/create",
                  {"entity_id": 3, "name": "n3"}, tasktype="create")
    assert ok["statusCode"] == 200
    got = dispatch(cat, "/sourcesystem/read", {"entity_id": 3}, tasktype="read")
    assert got["statusCode"] == 200 and got["body"][0]["name"] == "n3"
    assert dispatch(cat, "/nosuch/create", {}, tasktype="x")["statusCode"] == 404
    assert dispatch(cat, "/sourcesystem/frobnicate", {}, tasktype="x")["statusCode"] == 404
    assert dispatch(cat, "/health", tasktype="x")["statusCode"] == 200


def test_dispatch_requires_tasktype_but_routes_by_path(cat):
    """The reference's quirk, preserved: tasktype must be PRESENT
    (gateway validation, swagger :268-271) but routing uses the path
    (lambda_function.py:133-141)."""
    assert dispatch(cat, "/sourcesystem/create", {"entity_id": 1})["statusCode"] == 400
    ok = dispatch(cat, "/sourcesystem/create",
                  {"entity_id": 1, "name": "x"}, tasktype="NOT-the-route")
    assert ok["statusCode"] == 200  # routed by path, not tasktype


def test_config_scoped_warehouse_paths(spark, tmp_path):
    """GlobalConfig.fm_prefix namespaces every table directory
    (reference: fm_prefix-derived bucket names, globalConfig.json:3)."""
    from aws_datalake_framework_api_spark.config import GlobalConfig

    cfg = GlobalConfig(fm_prefix="acme")
    cat = Catalog(spark, str(tmp_path / "wh"), config=cfg)
    assert cat.create("source_system", 1, "x")["statusCode"] == 200
    assert (tmp_path / "wh" / "acme.source_system").is_dir()
    cat.flush_audit()
    assert (tmp_path / "wh" / "acme.api_events").is_dir()
    assert cat.read("source_system", 1).count() == 1
    # unprefixed catalog in the same warehouse doesn't collide
    plain = Catalog(spark, str(tmp_path / "wh"))
    assert plain.load("source_system").count() == 0


def test_global_config_loads_reference_shape(tmp_path):
    from aws_datalake_framework_api_spark.config import GlobalConfig

    p = tmp_path / "globalConfig.json"
    p.write_text(
        '{"aws_account": "123", "fm_prefix": "dl-fmwrk", "primary_region": '
        '"us-east-2", "secondary_region": "us-east-1", "log_type": "S", '
        '"secret_name": "cape_privacy_key", "unknown_key": 1}'
    )
    cfg = GlobalConfig.load(str(p))
    assert cfg.account == "123"
    assert cfg.fm_prefix == "dl-fmwrk"
    assert cfg.secret_name == "cape_privacy_key"
    assert cfg.table_name("data_asset") == "dl-fmwrk.data_asset"


def test_deltalog_catalog_is_time_travelable_delta(spark, cat):
    """The catalog writes REAL Delta tables: its mutation history
    stays readable with the protocol reader's versionAsOf."""
    from aws_datalake_framework_api_spark.sources.delta import read_delta

    cat.create("source_system", 1, "alpha")
    cat.update("source_system", 1, name="beta")
    d = cat._table_dir("source_system")
    latest = read_delta(spark, d).filter("entity_id = 1").collect()
    assert latest[0]["name"] == "beta"
    v0 = read_delta(spark, d, version_as_of=0).filter("entity_id = 1").collect()
    assert v0[0]["name"] == "alpha"


def test_catalog_mutations_are_one_delta_version_each(cat):
    """A6/A8/A9 each commit exactly one ``_delta_log`` version, and
    the no-ops — a conditional update (A2/A8 attribute_exists
    semantics) or a delete that matches no id — commit NOTHING."""
    d = cat._table_dir("source_system")
    cat.create("source_system", 1, "alpha")
    cat.create("source_system", 2, "beta")
    cat.update("source_system", 1, status="suspended")
    assert _delta_versions(d) == [0, 1, 2]
    res = cat.update("source_system", 999, status="ghost")  # no match
    assert res["matched"] == 0
    assert _delta_versions(d) == [0, 1, 2]  # no-op committed nothing
    cat.delete("source_system", 2)
    assert _delta_versions(d) == [0, 1, 2, 3]
    # deleting a missing id (alone or in a batch) is a 404 that
    # commits nothing
    assert cat.delete("source_system", 999)["statusCode"] == 404
    assert cat.delete_where("source_system", [998, 999])["matched"] == 0
    assert _delta_versions(d) == [0, 1, 2, 3]
    rows = {r["entity_id"]: r["status"] for r in cat.load("source_system").collect()}
    assert rows == {1: "suspended"}


def test_catalog_audit_flush_is_delta_append(cat):
    """Each flush adds one version and leaves the earlier data files
    active; the read unions every committed file."""
    d = os.path.join(cat.warehouse, "api_events")
    cat._audit("m/a", None)
    cat.flush_audit()
    first = _active_files(d, 0)
    cat._audit("m/b", None)
    cat.flush_audit()
    assert _delta_versions(d) == [0, 1]
    assert first < _active_files(d, 1)
    assert cat.audit_log().count() == 2
    # an update matching nothing writes no version
    assert cat.update_event_status("nope", "m/a", "done") == 0
    assert _delta_versions(d) == [0, 1]


def test_deltalog_point_update_rewrites_only_hit_files(cat):
    """A2 on the unbounded audit table: the UPDATE commit removes and
    re-adds ONLY the file holding the matched row; the other data
    files stay active under their original paths and are physically
    untouched."""
    for i in range(3):  # three append commits -> three data files
        cat._audit("m", None, request_id=f"r{i}")
        cat.flush_audit()
    d = os.path.join(cat.warehouse, "api_events")
    before = _active_files(d, 2)
    mtimes = {p: os.path.getmtime(os.path.join(d, p)) for p in before}
    assert cat.update_event_status("r1", "m", "done") == 1
    with open(os.path.join(d, "_delta_log", f"{3:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    removes = [a["remove"]["path"] for a in actions if "remove" in a]
    adds = [a["add"]["path"] for a in actions if "add" in a]
    assert len(removes) == 1 and len(adds) == 1  # one hit file rewritten
    assert removes[0] in before
    survivors = before - set(removes)
    assert _active_files(d, 3) == survivors | set(adds)
    for p in survivors:  # untouched on disk, not just still-listed
        assert os.path.getmtime(os.path.join(d, p)) == mtimes[p]
    statuses = {r["aws_request_id"]: r["status"] for r in cat.audit_log().collect()}
    assert statuses == {"r0": "success", "r1": "done", "r2": "success"}

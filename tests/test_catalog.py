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


def test_create_many_repeated_id_registers_first_occurrence(cat):
    """An id repeated inside one batch is a conflict like an id that
    already exists: the first occurrence registers, each repeat is
    audited as a failure, and the table holds one row per id."""
    res = cat.create_many("source_system", [(1, "a", None), (1, "b", None)])
    assert (res["created"], res["conflicts"]) == (1, 1)
    rows = [(r["entity_id"], r["name"]) for r in cat.load("source_system").collect()]
    assert rows == [(1, "a")]
    statuses = sorted(r["status"] for r in cat.audit_log().collect())
    assert statuses == ["failure", "success"]


# ------------------------------------------------------- racing writers

_RACES = {
    # A's call, the rival's call, A's status, ids left, status of id 7
    "create": (lambda c: c.create("source_system", 1, "a"),
               lambda c: c.create("source_system", 2, "b"),
               200, [1, 2, 7, 100], "active"),
    "update": (lambda c: c.update("source_system", 7, status="suspended"),
               lambda c: c.create("source_system", 2, "b"),
               200, [2, 7, 100], "suspended"),
    "delete": (lambda c: c.delete("source_system", 7),
               lambda c: c.create("source_system", 2, "b"),
               200, [2, 100], None),
    "create_same_id": (lambda c: c.create("source_system", 1, "a"),
                       lambda c: c.create("source_system", 1, "b"),
                       409, [1, 7, 100], "active"),
    "update_deleted": (lambda c: c.update("source_system", 7, status="x"),
                       lambda c: c.delete("source_system", 7),
                       404, [100], None),
}


@pytest.mark.parametrize("case", sorted(_RACES))
def test_rival_commit_between_read_and_commit_is_never_lost(
    spark, tmp_path, monkeypatch, case
):
    """A second Catalog on the same warehouse commits after A read the
    entity table and before A commits.  A's write loses the race,
    re-reads and re-checks: both entities survive, or A reports the
    conflict the rival caused (409/404) — never a silent loss."""
    import aws_datalake_framework_api_spark.catalog as catalog_mod

    wh = str(tmp_path / "wh")
    a, rival = Catalog(spark, wh), Catalog(spark, wh)
    a.create_many("source_system", [(7, "seven", None), (100, "hundred", None)])
    call, rival_call, status, ids, status7 = _RACES[case]
    write = catalog_mod.write_delta
    raced = []

    def racing_write(*args, **kwargs):
        if not raced:
            raced.append(True)
            assert rival_call(rival)["statusCode"] == 200
        return write(*args, **kwargs)

    monkeypatch.setattr(catalog_mod, "write_delta", racing_write)
    assert call(a)["statusCode"] == status
    assert raced
    rows = {r["entity_id"]: r for r in a.load("source_system").collect()}
    assert sorted(rows) == ids
    assert (rows[7]["status"] if 7 in rows else None) == status7
    if 1 in rows:  # the rival's same-id create won
        assert rows[1]["name"] == ("b" if case == "create_same_id" else "a")


def test_racing_catalogs_lose_no_acknowledged_create(spark, tmp_path):
    """Threads, each with its own Catalog on one warehouse, create
    distinct ids at once.  A create may give up with CommitConflict
    after its bounded retries, but every create that returned 200 is
    in the table, and nothing else is."""
    import threading

    from aws_datalake_framework_api_spark.sources.delta import CommitConflict

    wh = str(tmp_path / "wh")
    Catalog(spark, wh).create("data_asset", 0, "seed")
    acked, errors = [0], []

    def worker(base):
        cat = Catalog(spark, wh)
        for i in (base, base + 1):
            try:
                if cat.create("data_asset", i, f"n{i}")["statusCode"] == 200:
                    acked.append(i)
            except CommitConflict:
                pass
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

    threads = [threading.Thread(target=worker, args=(10 * t + 1,))
               for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors
    ids = sorted(r["entity_id"] for r in Catalog(spark, wh).load("data_asset").collect())
    assert ids == sorted(acked)


def _jobs(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_catalog_call_job_budget(spark, cat):
    """Each mutator is one collect of the entity table plus one commit
    write: at most 2 Spark jobs, and 1 when the check refuses the call
    (409/404) and nothing is written."""
    cat.create("source_system", 1, "a")  # the table exists from here on
    calls = {
        "create": (lambda: cat.create("source_system", 2, "b"), 2),
        "update": (lambda: cat.update("source_system", 2, status="x"), 2),
        "delete": (lambda: cat.delete("source_system", 2), 2),
        "create_409": (lambda: cat.create("source_system", 1, "dup"), 1),
        "update_404": (lambda: cat.update("source_system", 9, status="x"), 1),
        "delete_404": (lambda: cat.delete("source_system", 9), 1),
    }
    got = {name: _jobs(spark, f"catalog-budget-{name}", fn)
           for name, (fn, _) in calls.items()}
    assert all(got[name] <= budget for name, (_, budget) in calls.items()), (
        f"catalog calls issued {got} Spark jobs"
    )


def test_event_update_survives_a_concurrent_flush(spark, tmp_path, monkeypatch):
    """Another Catalog flushing its audit rows while this one's
    conditional update is in flight wins the commit race; the update
    re-runs against the new table state instead of raising, and the
    matches still buffered in memory are counted once."""
    import aws_datalake_framework_api_spark.sources.delta as delta_mod

    wh = str(tmp_path / "wh")
    a, rival = Catalog(spark, wh), Catalog(spark, wh)
    a._audit("m", None, request_id="r1")
    a.flush_audit()
    a._audit("m", None, request_id="r1")  # still buffered
    rival._audit("m", None, request_id="r2")
    stage = delta_mod._stage_mutation

    def flush_first(*args, **kwargs):
        rival.flush_audit()  # a no-op once the buffer is empty
        return stage(*args, **kwargs)

    monkeypatch.setattr(delta_mod, "_stage_mutation", flush_first)
    assert a.update_event_status("r1", "m", "done") == 2
    flushed = {r["aws_request_id"]: r["status"]
               for r in rival.audit_log().collect()}
    assert flushed == {"r1": "done", "r2": "success"}


def test_empty_local_frame_has_no_partitions(spark, cat):
    """No rows plan as a frame of no partitions — no Python worker
    starts to read an empty list — and a delete that empties an
    entity table still reads back empty."""
    from aws_datalake_framework_api_spark.catalog import ENTITY_SCHEMA, _local_df

    assert _local_df(spark, [], ENTITY_SCHEMA).rdd.getNumPartitions() == 0
    cat.create("target_system", 3, "only")
    assert cat.delete("target_system", 3)["matched"] == 1
    assert cat.load("target_system").collect() == []
    assert cat.read("target_system", 3).count() == 0

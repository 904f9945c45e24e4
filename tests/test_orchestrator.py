"""Orchestrator: path-convention parsing + full-file pipeline run."""

from __future__ import annotations

import json
import os

import pytest

from aws_insurancelake_etl_spark.orchestrator import parse_drop_path, run_pipeline


def test_parse_drop_path_with_date_override(tmp_path):
    root = str(tmp_path)
    args = parse_drop_path(f"{root}/syntheticgeneral/policydata/2022/3/1/file.csv", root)
    assert args["database"] == "syntheticgeneral"
    assert args["table"] == "policydata"
    assert args["partition"] == {"year": "2022", "month": "03", "day": "01"}
    assert args["base_file_name"] == "file.csv"


def test_parse_drop_path_defaults_to_today(tmp_path):
    root = str(tmp_path)
    args = parse_drop_path(f"{root}/db1/t1/file.csv", root)
    assert len(args["partition"]["year"]) == 4


def test_run_pipeline_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    drop = landing / "orchdb" / "claims" / "2024" / "01" / "15"
    drop.mkdir(parents=True)
    (drop / "claims-day1.csv").write_text(
        "ClaimNo,Amount,Status\n1,100.50,open\n2,200.00,closed\n"
    )
    config_dir = tmp_path / "cfg"
    config_dir.mkdir()
    (config_dir / "orchdb-claims.json").write_text(json.dumps({
        "input_spec": {"csv": {"header": True}},
        "transform_spec": {
            "currency": [{"field": "amount", "format": "10,2"}],
            "titlecase": ["status"],
        },
    }))
    (config_dir / "spark-orchdb-claims.sql").write_text(
        "SELECT claimno, amount, status, year, month, day FROM {database}.{table}"
    )

    summary = run_pipeline(
        spark,
        str(drop / "claims-day1.csv"),
        landing_root=str(landing),
        config_dir=str(config_dir),
        audit_log=str(tmp_path / "audit.jsonl"),
    )
    assert summary["stages"] == ["collect_to_cleanse", "cleanse_to_consume"]
    assert summary["partition"] == {"year": "2024", "month": "01", "day": "15"}

    cleansed = spark.table("orchdb.claims")
    assert cleansed.count() == 2
    assert {r["status"] for r in cleansed.collect()} == {"Open", "Closed"}
    consume = spark.table("orchdb_consume.claims")
    assert consume.count() == 2
    audit = (tmp_path / "audit.jsonl").read_text().strip().splitlines()
    assert len(audit) == 1 and json.loads(audit[0])["database"] == "orchdb"


def _write_dataset(tmp_path, db, table, csv_text):
    drop = tmp_path / "landing" / db / table / "2024" / "02" / "10"
    drop.mkdir(parents=True, exist_ok=True)
    f = drop / f"{table}.csv"
    f.write_text(csv_text)
    cfg = tmp_path / "cfg"
    cfg.mkdir(exist_ok=True)
    (cfg / f"{db}-{table}.json").write_text(json.dumps({
        "input_spec": {"csv": {"header": True}},
        "transform_spec": {},
    }))
    return str(f)


def test_dependent_dataset_queues_until_parent_lands(spark, tmp_path):
    from aws_insurancelake_etl_spark.orchestrator import JobAudit, run_or_queue

    child = _write_dataset(tmp_path, "depdb", "child", "Id,V\n1,10\n")
    parent = _write_dataset(tmp_path, "depdb", "parent", "Id,V\n1,20\n")
    (tmp_path / "cfg" / "depdb-child-dependent.json").write_text(json.dumps({
        "depends_on": ["depdb/parent"],
    }))
    audit = JobAudit(str(tmp_path / "jobaudit.jsonl"))
    common = dict(landing_root=str(tmp_path / "landing"),
                  config_dir=str(tmp_path / "cfg"), audit=audit)

    # Child drops first: must queue, not run.
    queued = run_or_queue(spark, child, **common)
    assert queued["status"] == "QUEUED"
    assert not spark.catalog.tableExists("depdb.child")

    # Parent drops: runs, then releases the queued child.
    done = run_or_queue(spark, parent, **common)
    assert done["status"] == "SUCCEEDED"
    assert done["released"] == ["depdb/child"]
    assert spark.table("depdb.child").count() == 1
    statuses = {i["source_key"]: i["job_latest_status"]
                for i in audit.items().values()}
    assert statuses == {"depdb/child": "SUCCEEDED", "depdb/parent": "SUCCEEDED"}


def test_lookback_satisfied_dependency_runs_immediately(spark, tmp_path):
    from aws_insurancelake_etl_spark.orchestrator import JobAudit, run_or_queue

    parent = _write_dataset(tmp_path, "lbdb", "parent", "Id,V\n1,1\n")
    child = _write_dataset(tmp_path, "lbdb", "child", "Id,V\n2,2\n")
    (tmp_path / "cfg" / "lbdb-child-dependent.json").write_text(json.dumps({
        "depends_on": ["lbdb/parent"], "lookback": {"hours": 4},
    }))
    audit = JobAudit(str(tmp_path / "jobaudit.jsonl"))
    common = dict(landing_root=str(tmp_path / "landing"),
                  config_dir=str(tmp_path / "cfg"), audit=audit)

    run_or_queue(spark, parent, **common)           # parent succeeded just now
    out = run_or_queue(spark, child, **common)      # inside lookback -> no queue
    assert out["status"] == "SUCCEEDED"

    # A stale success outside the lookback window must still queue.
    assert audit.succeeded_within("lbdb/parent", {"hours": 4})
    assert not audit.succeeded_within("lbdb/parent", {"seconds": 0})


def test_rowcount_drift_check(tmp_path):
    from aws_insurancelake_etl_spark.orchestrator import JobAudit, rowcount_drift_check

    audit = JobAudit(str(tmp_path / "audit.jsonl"))
    # cold start: always passes
    ok, detail = rowcount_drift_check(audit, "src/t", 999999)
    assert ok and detail["reason"] == "cold_start"
    for i, n in enumerate([1000, 1050, 980, 1020, 995]):
        audit.record(f"e{i}", "src/t", "SUCCEEDED", row_count=n)
    audit.record("bad", "src/t", "FAILED", row_count=5)       # ignored
    audit.record("other", "src/u", "SUCCEEDED", row_count=7)  # other source
    ok, detail = rowcount_drift_check(audit, "src/t", 1010)
    assert ok and detail["history_n"] == 5
    ok, detail = rowcount_drift_check(audit, "src/t", 100)
    assert not ok and detail["score"] > 3
    # a huge earlier outlier must not widen the band (median/MAD, not mean)
    audit.record("e9", "src/t", "SUCCEEDED", row_count=10**9)
    ok, _ = rowcount_drift_check(audit, "src/t", 100)
    assert not ok


def test_succeeded_run_records_row_count_for_drift_history(spark, tmp_path):
    from aws_insurancelake_etl_spark.orchestrator import JobAudit, run_or_queue

    drop = _write_dataset(tmp_path, "rcdb", "t", "Id,V\n1,1\n2,2\n3,3\n")
    audit = JobAudit(str(tmp_path / "jobaudit.jsonl"))
    out = run_or_queue(spark, drop, landing_root=str(tmp_path / "landing"),
                       config_dir=str(tmp_path / "cfg"), audit=audit)
    assert out["status"] == "SUCCEEDED"
    assert out["cleanse_row_count"] == 3
    item = [i for i in audit.items().values()
            if i["source_key"] == "rcdb/t"][0]
    assert item["row_count"] == 3 and item["job_latest_status"] == "SUCCEEDED"


def test_run_pipeline_lakehouse_zones(spark, tmp_path):
    """run_pipeline(table_format='delta'): both zones land on
    transactional tables, consume SQL resolves the cleanse table by
    NAME through the registry, and a re-drop of the same partition is
    idempotent."""
    from aws_insurancelake_etl_spark.sources import delta_lite
    from aws_insurancelake_etl_spark.sources.lakehouse_sql import (
        registered_tables,
        unregister_table,
    )

    landing = tmp_path / "landing"
    drop = landing / "lkdb" / "claims" / "2024" / "01" / "15"
    drop.mkdir(parents=True)
    (drop / "claims-day1.csv").write_text(
        "ClaimNo,Amount,Status\n1,100.50,open\n2,200.00,closed\n"
    )
    config_dir = tmp_path / "cfg"
    config_dir.mkdir()
    (config_dir / "lkdb-claims.json").write_text(json.dumps({
        "input_spec": {"csv": {"header": True}},
        "transform_spec": {"titlecase": ["status"]},
    }))
    (config_dir / "spark-lkdb-claims.sql").write_text(
        "SELECT claimno, status, year, month, day FROM {database}.{table}"
    )
    try:
        for _ in range(2):  # re-drop of the same partition: idempotent
            summary = run_pipeline(
                spark,
                str(drop / "claims-day1.csv"),
                landing_root=str(landing),
                config_dir=str(config_dir),
                table_format="delta",
            )
        assert summary["stages"] == [
            "collect_to_cleanse", "cleanse_to_consume",
        ]
        regs = registered_tables()
        assert "lkdb.claims" in regs and "lkdb_consume.claims" in regs
        cl_path = regs["lkdb.claims"][1]
        co_path = regs["lkdb_consume.claims"][1]
        assert delta_lite.read_delta(spark, cl_path).count() == 2
        assert delta_lite.read_delta(spark, co_path).count() == 2
        # the consume rebuild committed per run: versions advanced,
        # previous state travelable
        assert delta_lite.snapshot(co_path).version >= 1
    finally:
        unregister_table("lkdb.claims")
        unregister_table("lkdb_consume.claims")


def test_run_pipeline_lakehouse_entity_match(spark, tmp_path):
    """Entity match on lakehouse runs: the primary is a transactional
    path table — first run seeds it with uuid gids, the second upserts
    through the SQL front-end's MERGE (one commit)."""
    from aws_insurancelake_etl_spark.plans.writer import lakehouse_table_path
    from aws_insurancelake_etl_spark.sources import iceberg_lite
    from aws_insurancelake_etl_spark.sources.lakehouse_sql import (
        unregister_table,
    )

    landing = tmp_path / "landing"
    drop = landing / "emdb" / "cust" / "2024" / "02" / "02"
    drop.mkdir(parents=True)
    (drop / "cust-a.csv").write_text(
        "CustId,Name\n1,ann\n2,bob\n"
    )
    config_dir = tmp_path / "cfg"
    config_dir.mkdir()
    (config_dir / "emdb-cust.json").write_text(json.dumps({
        "input_spec": {"csv": {"header": True}},
        "transform_spec": {},
    }))
    (config_dir / "spark-emdb-cust.sql").write_text(
        "SELECT custid, name FROM {database}.{table}"
    )
    spec = {
        "primary_entity_table": "cust_primary",
        "global_id_field": "gid",
        "exact_match_fields": {
            "source_primary_key": "custid",
            "source_system_key": "name",
        },
    }
    try:
        for _ in range(2):
            summary = run_pipeline(
                spark,
                str(drop / "cust-a.csv"),
                landing_root=str(landing),
                config_dir=str(config_dir),
                entitymatch_spec=spec,
                table_format="iceberg",
            )
        assert "entity_match" in summary["stages"]
        ppath = lakehouse_table_path(spark, "emdb_consume", "cust_primary")
        primary = iceberg_lite.read_iceberg(spark, ppath)
        assert primary.count() == 2
        assert primary.where("gid IS NULL").count() == 0
        # second run upserted (MERGE), not doubled
        assert len(iceberg_lite.snapshot_ids(ppath)) >= 2
    finally:
        unregister_table("emdb.cust")
        unregister_table("emdb_consume.cust")


def _entity_drop_setup(tmp_path, database: str) -> tuple[str, str, dict]:
    """Landing root, config dir and entity spec for a customer feed with a
    quarantine rule, a halt rule, partition-scoped consume SQL and an
    exact + one fuzzy level entity match (the file-drop benchmark's shape)."""
    landing, config_dir = tmp_path / "landing", tmp_path / "cfg"
    config_dir.mkdir()
    (config_dir / f"{database}-cust.json").write_text(json.dumps({
        "input_spec": {"csv": {"header": True}},
        "transform_spec": {"changetype": {"balance": "decimal(12,2)"}},
    }))
    (config_dir / f"dq-{database}-cust.json").write_text(json.dumps({
        "after_transform": {
            "quarantine_rules": ["ColumnValues 'balance' >= -500"],
            "halt_rules": ["(ColumnExists 'custid') and (IsComplete 'custid')"],
        }}))
    (config_dir / f"spark-{database}-cust.sql").write_text(
        "SELECT custid, src, name, nation, balance, year, month, day "
        "FROM {database}.{table} "
        "WHERE year = '{year}' AND month = '{month}' AND day = '{day}'")
    spec = {
        "primary_entity_table": "cust_primary",
        "global_id_field": "gid",
        "exact_match_fields": {"source_primary_key": "custid", "source_system_key": "src"},
        "levels": [{
            "blocks": ["nation", "name[:1]"], "threshold": 0.8,
            "fields": [{"fieldname": "name", "type": "string", "method": "levenshtein",
                        "threshold": 0.8, "weight": 1}],
        }],
    }
    return str(landing), str(config_dir), spec


def _customer_drop(landing: str, database: str, day: int, ids: range,
                   aliases: range = range(0)) -> str:
    """One CSV drop: persons ``ids`` under their own key, plus persons
    ``aliases`` under a new key with a one-letter name typo, so only the
    fuzzy level can resolve them."""
    import hashlib

    drop = os.path.join(landing, database, "cust", "2024", "03", f"{day:02d}")
    os.makedirs(drop, exist_ok=True)
    path = os.path.join(drop, f"cust-{day}.csv")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("CustId,Src,Name,Nation,Balance\n")
        for i in [*ids, *aliases]:
            name = hashlib.md5(str(i).encode()).hexdigest()[:10]
            key = i
            if i in aliases:
                name, key = name[:-1] + "x", 1000 + i
            fh.write(f"{key},s{i % 2},{name},n{i % 3},{(i * 37) % 900 - 520}\n")
    return path


def _unregister(database: str) -> None:
    from aws_insurancelake_etl_spark.sources.lakehouse_sql import unregister_table

    unregister_table(f"{database}.cust")
    unregister_table(f"{database}_consume.cust")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_drop_job_count_is_pinned(spark, tmp_path, fmt):
    """A warm MERGE drop (DQ, consume, entity match, MERGE) runs a bounded
    number of Spark jobs; the ceilings are the counts measured when each
    per-drop intermediate was made to compute once."""
    database = f"jobs{fmt}"
    landing, config_dir, spec = _entity_drop_setup(tmp_path, database)
    sc = spark.sparkContext
    try:
        run_pipeline(spark, _customer_drop(landing, database, 1, range(0, 60)), landing,
                     config_dir, entitymatch_spec=spec, table_format=fmt)
        second = _customer_drop(landing, database, 2, range(45, 90), aliases=range(30, 45))
        group = f"merge-drop-{fmt}"
        sc.setJobGroup(group, "second drop")
        try:
            summary = run_pipeline(spark, second, landing, config_dir,
                                   entitymatch_spec=spec, table_format=fmt)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        _unregister(database)
    assert summary["stages"][-1] == "entity_match"
    assert jobs <= {"delta": 29, "iceberg": 27}[fmt], f"{fmt} merge drop ran {jobs} jobs"


def test_run_pipeline_releases_its_caches(spark, tmp_path):
    """Frames cached for one drop are unpersisted when the drop returns:
    the session's cache manager is empty after two drops."""
    database = "cacherel"
    landing, config_dir, spec = _entity_drop_setup(tmp_path, database)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    try:
        drops = [_customer_drop(landing, database, 1, range(0, 40)),
                 _customer_drop(landing, database, 2, range(30, 60), aliases=range(10, 20))]
        for drop in drops:
            run_pipeline(spark, drop, landing, config_dir, entitymatch_spec=spec,
                         table_format="delta")
            assert cache_manager.isEmpty()
    finally:
        _unregister(database)

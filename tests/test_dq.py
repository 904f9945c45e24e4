"""DQ rule engine: grammar, warn/quarantine/halt actions, CustomSql forms.

Conformance model: the reference's shipped ruleset
``lib/glue_scripts/dq-rules/dq-SyntheticGeneralData-PolicyData.json`` and the
stage/action matrix in ``dataquality_check.py``."""

from __future__ import annotations

import pytest

from aws_insurancelake_etl_spark.plans.dq import RuleCompiler
from aws_insurancelake_etl_spark.plans.dq_runner import (
    DataQualityHaltError,
    DataQualityQuarantineAllRowsError,
    run_dq_stage,
)


def policy_df(spark):
    return spark.createDataFrame(
        [
            (1, "1/2/22", "New", 1000.0, "2022-01-01"),
            (2, "bad", "Renewal", -5.0, "2022-02-01"),
            (3, "3/4/22", "Other", 2000000.0, None),
        ],
        "PolicyNumber int, StartDate string, NewOrRenewal string, "
        "WrittenPremiumAmount double, EffectiveDate string",
    )


def test_columnvalues_matches_and_quarantine(spark, ctx):
    df = policy_df(spark)
    rules = {"before_transform": {"quarantine_rules": [
        r"ColumnValues 'StartDate' matches '\d{1,2}/\d{1,2}/\d\d'"
    ]}}
    out, result = run_dq_stage(df, rules, "before_transform", ctx)
    assert result.quarantined_count == 1
    assert sorted(r["PolicyNumber"] for r in out.collect()) == [1, 3]
    assert "quarantine_timestamp" in result.quarantine_df.columns


def test_columnvalues_ops_in_list_warn(spark, ctx):
    df = policy_df(spark)
    rules = {"after_transform": {"warn_rules": [
        "ColumnValues \"WrittenPremiumAmount\" >= 0",
        "ColumnValues 'WrittenPremiumAmount' < 10000000",
        "ColumnValues 'NewOrRenewal' in [ 'New', 'Renewal' ]",
        "Completeness 'EffectiveDate' > 0.50",
    ]}}
    out, result = run_dq_stage(df, rules, "after_transform", ctx)
    passed = {o.rule: o.passed for o in result.outcomes}
    assert passed["ColumnValues \"WrittenPremiumAmount\" >= 0"] is False  # -5
    assert passed["ColumnValues 'WrittenPremiumAmount' < 10000000"] is True
    assert passed["ColumnValues 'NewOrRenewal' in [ 'New', 'Renewal' ]"] is False
    assert passed["Completeness 'EffectiveDate' > 0.50"] is True
    assert out.count() == 3  # warn never filters


def test_halt_composite_and_customsql(spark, ctx):
    df = policy_df(spark)
    rules = {"after_transform": {"halt_rules": [
        "(ColumnExists 'PolicyNumber') and (IsComplete 'PolicyNumber')",
        "CustomSql 'SELECT COUNT(*) FROM primary WHERE WrittenPremiumAmount < -1000' = 0",
    ]}}
    out, result = run_dq_stage(df, rules, "after_transform", ctx)
    assert out.count() == 3

    bad_rules = {"after_transform": {"halt_rules": [
        "CustomSql 'SELECT COUNT(*) FROM primary WHERE WrittenPremiumAmount < 0' = 0",
    ]}}
    with pytest.raises(DataQualityHaltError):
        run_dq_stage(df, bad_rules, "after_transform", ctx)


def test_halt_sees_prequarantine_rows(spark, ctx):
    df = policy_df(spark)
    rules = {"after_transform": {
        "quarantine_rules": ["ColumnValues 'WrittenPremiumAmount' >= 0"],
        "halt_rules": [
            "CustomSql 'SELECT COUNT(*) FROM primary WHERE WrittenPremiumAmount < 0' = 0"
        ],
    }}
    # The negative-premium row is quarantined AND still trips the halt rule.
    with pytest.raises(DataQualityHaltError):
        run_dq_stage(df, rules, "after_transform", ctx)


def test_customsql_rowlevel_quarantine(spark, ctx):
    df = policy_df(spark)
    rules = {"after_sparksql": {"quarantine_rules": [
        "CustomSql 'SELECT PolicyNumber FROM primary WHERE WrittenPremiumAmount <= 1500000'"
    ]}}
    out, result = run_dq_stage(df, rules, "after_sparksql", ctx)
    assert result.quarantined_count == 1
    assert sorted(r["PolicyNumber"] for r in out.collect()) == [1, 2]


def test_all_rows_quarantined_aborts(spark, ctx):
    df = policy_df(spark)
    rules = {"after_transform": {"quarantine_rules": [
        "ColumnValues 'WrittenPremiumAmount' > 99999999"
    ]}}
    with pytest.raises(DataQualityQuarantineAllRowsError):
        run_dq_stage(df, rules, "after_transform", ctx)


def test_columndatatype_on_strings(spark, ctx):
    df = spark.createDataFrame(
        [("2022-01-01", "2022-01-01 10:00:00"), ("nope", "also-nope"), (None, None)],
        "d string, t string",
    )
    compiler = RuleCompiler(df)
    rule_d = compiler.compile("ColumnDataType 'd' = 'DATE'")
    rule_t = compiler.compile("ColumnDataType 't' = 'TIMESTAMP'")
    got = df.select(
        rule_d.predicate.alias("pd"), rule_t.predicate.alias("pt")
    ).collect()
    assert [r["pd"] for r in got] == [True, False, True]  # null complies
    assert [r["pt"] for r in got] == [True, False, True]


def test_rowcount_uniqueness(spark, ctx):
    df = policy_df(spark)
    rules = {"before_transform": {"warn_rules": [
        "RowCount >= 3",
        "Uniqueness 'PolicyNumber' = 1.0",
        "IsUnique 'PolicyNumber'",
    ]}}
    _, result = run_dq_stage(df, rules, "before_transform", ctx)
    assert all(o.passed for o in result.outcomes)


def test_missing_column_is_rule_error(spark, ctx):
    df = policy_df(spark)
    compiler = RuleCompiler(df)
    from aws_insurancelake_etl_spark.plans.dq import DQRuleError

    with pytest.raises(DQRuleError, match="not found"):
        compiler.compile("ColumnValues 'NoSuchColumn' >= 0")


def test_statistical_rule_family(spark):
    """Mean / StandardDeviation / Sum / DistinctValuesCount compile to
    shared-pass aggregate rules; ColumnLength is row-level with nulls
    non-compliant; exclusive `between` matches the CustomSql comparator."""
    import pandas as pd

    from aws_insurancelake_etl_spark.context import RunContext
    from aws_insurancelake_etl_spark.plans.dq import RuleCompiler
    from aws_insurancelake_etl_spark.plans.dq_runner import _evaluate_rules

    df = spark.createDataFrame(
        pd.DataFrame({
            "amount": [10.0, 20.0, 30.0, 40.0],
            "code": ["AA", "BBB", "CCCC", None],
        })
    )
    compiler = RuleCompiler(df)
    ctx = RunContext(spark=spark, args={})
    cases = {
        "Mean 'amount' between 24 and 26": True,     # mean = 25, exclusive ok
        "Mean 'amount' between 25 and 30": False,    # exclusive lower bound
        "Mean 'amount' = 25": True,
        "StandardDeviation 'amount' > 11": True,     # population stddev ~11.18
        "StandardDeviation 'amount' > 12": False,    # sample stddev would pass
        "Sum 'amount' = 100": True,
        "DistinctValuesCount 'code' = 3": True,      # nulls not counted
        "ColumnLength 'code' between 1 and 5": False,  # null row non-compliant
        "ColumnLength 'code' >= 2": False,           # null fails even though all lengths pass
    }
    rules = [compiler.compile(text) for text in cases]
    outcomes = {o.rule: o.passed for o in _evaluate_rules(df, rules, ctx)}
    assert outcomes == cases
    # ColumnLength is row-level: the predicate splits exactly the null row.
    rule = compiler.compile("ColumnLength 'code' between 1 and 5")
    assert rule.predicate is not None
    assert df.filter(~rule.predicate).count() == 1


def test_primary_key_correlation_freshness_rules(spark):
    """Round-6 DQDL additions: IsPrimaryKey (complete AND unique in the
    shared pass), ColumnCorrelation (one corr aggregate), DataFreshness
    (row-level, injectable now for determinism), and UniqueValueRatio
    (round-7: native two-stage aggregation via ``dataset_eval`` —
    exactly-once values / distinct values, nulls excluded)."""
    import pandas as pd

    from aws_insurancelake_etl_spark.context import RunContext
    from aws_insurancelake_etl_spark.plans.dq import DQRuleError, RuleCompiler
    from aws_insurancelake_etl_spark.plans.dq_runner import _evaluate_rules

    df = spark.createDataFrame(
        pd.DataFrame({
            "pk": [1, 2, 3, 4],
            "dup": [1, 1, 2, 3],
            "withnull": [1.0, 2.0, None, 4.0],
            "x": [1.0, 2.0, 3.0, 4.0],
            "y": [2.0, 4.0, 6.0, 8.0],
            "anti": [4.0, 3.0, 2.0, 1.0],
            "seen": ["2024-01-01 10:00:00", "2024-01-01 11:00:00",
                     "2024-01-01 11:30:00", "2024-01-01 11:59:00"],
        })
    )
    compiler = RuleCompiler(df)
    compiler.freshness_now = "2024-01-01 12:00:00"
    ctx = RunContext(spark=spark, args={})
    cases = {
        "IsPrimaryKey pk": True,
        "IsPrimaryKey dup": False,        # duplicates
        "IsPrimaryKey withnull": False,   # null present
        "ColumnCorrelation x y >= 0.99": True,    # perfectly correlated
        "ColumnCorrelation x anti < 0": True,     # perfectly anti-correlated
        "ColumnCorrelation 'x' 'y' between 0.5 and 1.5": True,
        "DataFreshness seen <= 2 hours": True,    # all within 2h of now
        "DataFreshness seen <= 30 minutes": False,  # 10:00 row too old
    }
    rules = [compiler.compile(text) for text in cases]
    outcomes = {o.rule: o.passed for o in _evaluate_rules(df, rules, ctx)}
    assert outcomes == cases
    # DataFreshness is row-level: quarantine splits exactly the stale rows
    rule = compiler.compile("DataFreshness seen <= 30 minutes")
    assert rule.predicate is not None
    assert df.filter(~rule.predicate).count() == 2  # 10:00 and 11:00

    # UniqueValueRatio: dup = [1, 1, 2, 3] -> values {1: 2, 2: 1, 3: 1};
    # exactly-once = 2, distinct = 3, ratio = 2/3.  pk is all-unique
    # (ratio 1.0); withnull = [1, 2, None, 4] excludes the null (3/3).
    uvr_cases = {
        "UniqueValueRatio dup >= 0.5": True,
        "UniqueValueRatio dup > 0.67": False,
        "UniqueValueRatio 'dup' between 0.5 and 0.7": True,
        "UniqueValueRatio pk = 1.0": True,
        "UniqueValueRatio withnull >= 1.0": True,
    }
    uvr_rules = [compiler.compile(text) for text in uvr_cases]
    uvr_outcomes = {o.rule: o.passed
                    for o in _evaluate_rules(df, uvr_rules, ctx)}
    assert uvr_outcomes == uvr_cases
    observed = uvr_rules[0].dataset_eval(df).observed
    assert observed["unique_values"] == 2
    assert observed["distinct_values"] == 3
    # two-pass sub-aggregation rules cannot fold into a composite —
    # dropping one would false-pass the conjunction (r6 review class)
    with pytest.raises(DQRuleError, match="composite"):
        compiler.compile("(IsComplete pk) and (UniqueValueRatio dup >= 0.5)")


def test_referential_integrity_rule(spark, ctx):
    from aws_insurancelake_etl_spark.plans.dq import DQRuleError, RuleCompiler
    from aws_insurancelake_etl_spark.plans.dq_runner import (
        _evaluate_rules,
        _quarantine_split,
    )

    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], ["id", "dim_id"]
    )
    dim = spark.createDataFrame([(10,), (20,), (30,)], ["dim_key"])
    compiler = RuleCompiler(fact, ref_resolver={"dim": dim}.__getitem__)

    rule = compiler.compile("ReferentialIntegrity 'dim_id' 'dim.dim_key'")
    # aggregate outcome: 2 of 4 resolve (null counts as violation)
    outcome = _evaluate_rules(fact, [rule], ctx)[0]
    assert outcome.passed is False
    assert outcome.observed == {"matched": 2, "total": 4}

    # ratio mode passes at a loose threshold
    loose = compiler.compile("ReferentialIntegrity 'dim_id' 'dim.dim_key' >= 0.5")
    assert _evaluate_rules(fact, [loose], ctx)[0].passed is True

    # quarantine split: orphans (and null keys) fail
    passing, failing = _quarantine_split(fact, [rule], ctx)
    assert sorted(r.id for r in passing.collect()) == [1, 2]
    assert sorted(r.id for r in failing.collect()) == [3, 4]
    # marker columns do not leak
    assert passing.columns == ["id", "dim_id"]

    # unknown reference table is a compile-time error
    import pytest as _pytest
    with _pytest.raises(DQRuleError):
        compiler.compile("ReferentialIntegrity 'dim_id' 'nope.k'")


def test_referential_integrity_null_reference_keys(spark, ctx):
    """A NULL in the reference-key column must NOT make NULL fact keys
    resolve: NULL reference keys are dropped at compile time, so
    unresolvable rows always count as violations (Glue DQDL semantics)."""
    from aws_insurancelake_etl_spark.plans.dq import RuleCompiler
    from aws_insurancelake_etl_spark.plans.dq_runner import (
        _evaluate_rules,
        _quarantine_split,
    )

    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], ["id", "dim_id"]
    )
    dim = spark.createDataFrame(
        [(10,), (20,), (None,)], "dim_key int"
    )
    compiler = RuleCompiler(fact, ref_resolver={"dim": dim}.__getitem__)
    rule = compiler.compile("ReferentialIntegrity 'dim_id' 'dim.dim_key'")

    # NULL fact key stays a violation even with a NULL in the dim keys
    outcome = _evaluate_rules(fact, [rule], ctx)[0]
    assert outcome.passed is False
    assert outcome.observed == {"matched": 2, "total": 4}

    passing, failing = _quarantine_split(fact, [rule], ctx)
    assert sorted(r.id for r in passing.collect()) == [1, 2]
    assert sorted(r.id for r in failing.collect()) == [3, 4]


def test_dq_match_rules_family(spark):
    """Round-6 Glue DQDL additions: ColumnCount, ColumnNamesMatchPattern,
    RowCountMatch, AggregateMatch, DatasetMatch (incl. the absent-key
    all-null-shared-columns trap)."""
    from aws_insurancelake_etl_spark.context import RunContext
    from aws_insurancelake_etl_spark.plans.dq import RuleCompiler
    from aws_insurancelake_etl_spark.plans.dq_runner import _evaluate_rules

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, None)],
        "id long, name string, amount double",
    )
    ref_same = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, amount double"
    )
    refs = {"refsame": ref_same, "refbig": df.unionByName(df)}
    compiler = RuleCompiler(df, ref_resolver=lambda n: refs[n])
    ctx = RunContext(spark)

    cases = {
        "ColumnCount = 3": True,
        "ColumnCount > 5": False,
        "ColumnNamesMatchPattern '[a-z]+'": True,
        "ColumnNamesMatchPattern 'col_.*'": False,
        "RowCountMatch 'refbig' = 0.5": True,
        "RowCountMatch 'refbig' >= 1.0": False,
        "AggregateMatch 'sum(amount)' 'sum(refsame.amount)' = 1.0": True,
        "AggregateMatch 'avg(amount)' 'avg(refsame.amount)' >= 2.0": False,
        # ids 1,2 match fully; id 3 absent from reference -> 2/3
        "DatasetMatch 'refsame' 'id' >= 0.66": True,
        "DatasetMatch 'refsame' 'id'": False,  # default = all must match
    }
    rules = [compiler.compile(text) for text in cases]
    outcomes = {o.rule: o.passed for o in _evaluate_rules(df, rules, ctx)}
    assert outcomes == cases, outcomes

    # AggregateMatch ref spec without table prefix is rejected
    import pytest as _pytest

    from aws_insurancelake_etl_spark.plans.dq import DQRuleError

    with _pytest.raises(DQRuleError, match="table.column"):
        compiler.compile("AggregateMatch 'sum(amount)' 'sum(amount)' = 1.0")

    # the all-null-shared-columns absent-key trap: row 3 must NOT match
    ref_two = spark.createDataFrame([(1, "a", 10.0)],
                                    "id long, name string, amount double")
    refs["reftwo"] = ref_two
    rule = compiler.compile("DatasetMatch 'reftwo' 'id' >= 0.5")
    out = _evaluate_rules(df, [rule], ctx)[0]
    assert out.observed == {"matched": 1, "total": 3}


def test_dq_match_rule_hardening(spark):
    """Review-fix pins: composites refuse join-evaluated sub-rules,
    malformed regex/ratios/keys raise DQRuleError (totality contract),
    and AggregateMatch handles a zero reference via the operator."""
    import pytest as _pytest

    from aws_insurancelake_etl_spark.context import RunContext
    from aws_insurancelake_etl_spark.plans.dq import DQRuleError, RuleCompiler
    from aws_insurancelake_etl_spark.plans.dq_runner import _evaluate_rules

    df = spark.createDataFrame([(1, 0.0), (2, 0.0)], "id long, amount double")
    zeros = spark.createDataFrame([(1, 0.0)], "id long, amount double")
    compiler = RuleCompiler(df, ref_resolver=lambda n: {"z": zeros}[n])
    ctx = RunContext(spark)

    with _pytest.raises(DQRuleError, match="composite"):
        compiler.compile("(RowCount > 0) and (DatasetMatch 'z' 'id')")
    with _pytest.raises(DQRuleError, match="composite"):
        compiler.compile("(RowCount > 0) and (ReferentialIntegrity 'id' 'z.id')")
    with _pytest.raises(DQRuleError, match="regex"):
        compiler.compile("ColumnNamesMatchPattern '('")
    with _pytest.raises(DQRuleError, match="Unparseable"):
        compiler.compile("RowCountMatch 'z' >= 1.2.3")
    with _pytest.raises(DQRuleError, match="key column"):
        compiler.compile("DatasetMatch 'z' ' '")

    # zero-sum reference: 0/0 ratio is 1.0, so '= 1.0' passes and
    # '!= 1.0' fails -- the operator decides, not a hard short-circuit
    r_eq = compiler.compile("AggregateMatch 'sum(amount)' 'sum(z.amount)' = 1.0")
    r_ne = compiler.compile("AggregateMatch 'sum(amount)' 'sum(z.amount)' != 1.0")
    got = {o.rule: o.passed for o in _evaluate_rules(df, [r_eq, r_ne], ctx)}
    assert got[r_eq.text] is True and got[r_ne.text] is False


def _count_actions(spark, monkeypatch) -> list:
    """Record every DataFrame action (collect/count/head/take/first)."""
    frame_class = type(spark.range(1))
    calls: list = []
    for name in ("collect", "count", "head", "take", "first", "toPandas", "isEmpty"):
        original = getattr(frame_class, name)

        def spy(self, *a, _original=original, _name=name, **kw):
            calls.append(_name)
            return _original(self, *a, **kw)

        monkeypatch.setattr(frame_class, name, spy)
    return calls


def test_plain_stage_runs_one_aggregate_action(spark, ctx, monkeypatch):
    """Warn, quarantine and halt rules that are plain predicates or
    aggregates are answered by ONE df.agg, quarantine counts included;
    rows whose predicate is null are quarantined."""
    df = policy_df(spark).cache()
    df.count()
    written: list = []
    rules = {"after_transform": {
        "warn_rules": ["ColumnValues 'WrittenPremiumAmount' >= 0", "RowCount > 2"],
        "quarantine_rules": ["ColumnValues 'EffectiveDate' matches '2022-.*'"],
        "halt_rules": ["(ColumnExists 'PolicyNumber') and (IsComplete 'PolicyNumber')"],
    }}
    calls = _count_actions(spark, monkeypatch)
    out, result = run_dq_stage(
        df, rules, "after_transform", ctx,
        quarantine_writer=lambda failing, table: written.append(table),
    )
    assert calls == ["collect"]
    monkeypatch.undo()
    warn = {o.rule: o.passed for o in result.outcomes}
    assert warn == {"ColumnValues 'WrittenPremiumAmount' >= 0": False, "RowCount > 2": True}
    # the null EffectiveDate row fails its predicate with NULL: quarantined
    assert result.quarantined_count == 1 and written == ["primary_quarantine_after_transform"]
    assert sorted(r.PolicyNumber for r in out.collect()) == [1, 2]
    assert [r.PolicyNumber for r in result.quarantine_df.collect()] == [3]


def test_all_quarantined_abort_follows_quarantine_write(spark, ctx):
    df = policy_df(spark)
    written: list = []
    rules = {"after_transform": {
        "quarantine_rules": ["ColumnValues 'WrittenPremiumAmount' > 99999999"],
        "halt_rules": ["ColumnValues 'PolicyNumber' > 100"],
    }}
    with pytest.raises(DataQualityQuarantineAllRowsError):
        run_dq_stage(df, rules, "after_transform", ctx,
                     quarantine_writer=lambda failing, table: written.append(failing.count()))
    assert written == [3]  # the quarantine landed; the abort precedes the halt


def test_halt_raises_after_quarantine_table_landed(spark, ctx):
    df = policy_df(spark)
    events: list = []
    rules = {"after_transform": {
        "warn_rules": ["Completeness 'EffectiveDate' > 0.9"],
        "quarantine_rules": ["ColumnValues 'WrittenPremiumAmount' >= 0"],
        "halt_rules": ["ColumnValues 'WrittenPremiumAmount' >= 0"],
    }}
    ctx.log_lineage = lambda op, df=None, **info: events.append(op)
    with pytest.raises(DataQualityHaltError):
        run_dq_stage(df, rules, "after_transform", ctx,
                     quarantine_writer=lambda failing, table: events.append(("write", failing.count())))
    assert events == ["dq-warn", ("write", 1), "dq-quarantine"]


def test_mixed_stage_falls_back_for_join_rules(spark, ctx):
    """ReferentialIntegrity and row-level CustomSql quarantine rules need
    key joins: the stage falls back to counting the split frames and still
    quarantines the union of every rule's failures."""
    df = policy_df(spark)
    spark.createDataFrame([(1,), (2,)], "k int").createOrReplaceTempView("dq_known")
    rules = {"after_sparksql": {
        "warn_rules": ["ReferentialIntegrity 'PolicyNumber' 'dq_known.k'", "RowCount = 3"],
        "quarantine_rules": [
            "ColumnValues 'NewOrRenewal' in [ 'New', 'Renewal', 'Other' ]",
            "ReferentialIntegrity 'PolicyNumber' 'dq_known.k'",
            "CustomSql 'SELECT PolicyNumber FROM primary WHERE WrittenPremiumAmount > 0'",
        ],
        "halt_rules": ["CustomSql 'SELECT COUNT(*) FROM primary' = 3"],
    }}
    out, result = run_dq_stage(df, rules, "after_sparksql", ctx)
    warn = {o.rule: o.passed for o in result.outcomes}
    assert warn["ReferentialIntegrity 'PolicyNumber' 'dq_known.k'"] is False
    assert warn["RowCount = 3"] is True
    # 2 fails CustomSql (premium -5), 3 fails ReferentialIntegrity
    assert result.quarantined_count == 2
    assert [r.PolicyNumber for r in out.collect()] == [1]
    assert sorted(out.columns) == sorted(df.columns)  # no marker column leaks

"""DQ stage execution: warn / quarantine / halt orchestration.

Parity with ``lib/glue_scripts/lib/dataquality_check.py``: warn logs and
continues (:145-171); quarantine splits rows, stamps ``quarantine_timestamp``
and writes ``<table>_quarantine_<stage>`` then aborts if *every* row was
quarantined (:174-263); halt is evaluated last against the pre-quarantine
DataFrame (:116-142, :311-314) and raises on any failure.

One ``df.agg`` per stage evaluates every warn/halt aggregate rule and the
quarantine counts; row-level rules fold into one conjunction for the split
(two filters over one cached plan).  CustomSql rules run as their own
``spark.sql`` against a ``primary`` temp view; row-level CustomSql passes
rows by semi-join on the selected key column(s).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import RunContext
from .dq import _OPS, CompiledRule, RuleCompiler, RuleOutcome

logger = logging.getLogger(__name__)

STAGES = ("before_transform", "after_transform", "after_sparksql")
ACTIONS = ("warn_rules", "quarantine_rules", "halt_rules")


class DataQualityHaltError(RuntimeError):
    pass


class DataQualityQuarantineAllRowsError(RuntimeError):
    pass


@dataclass
class DQStageResult:
    stage: str
    outcomes: list[RuleOutcome] = field(default_factory=list)
    quarantined_count: int = 0
    quarantine_df: DataFrame | None = None


def _aggregate(df: DataFrame, exprs: dict[str, Column]) -> dict[str, Any]:
    aliased = [expr.alias(name) for name, expr in exprs.items()]
    return df.agg(*aliased).collect()[0].asDict() if aliased else {}


def _evaluate_rules(
    df: DataFrame, rules: list[CompiledRule], ctx: RunContext,
    agg_row: dict[str, Any] | None = None,
) -> list[RuleOutcome]:
    """Aggregate rules read ``agg_row`` (one ``df.agg`` when not given);
    the other kinds run their own passes, CustomSql via temp view."""
    if agg_row is None:
        agg_row = _aggregate(df, {k: v for r in rules for k, v in r.agg_exprs.items()})
    outcomes: list[RuleOutcome] = []
    for rule in rules:
        if rule.ri_keys is not None:
            outcomes.append(_evaluate_ref_integrity(df, rule))
        elif rule.dm_ref is not None:
            outcomes.append(_evaluate_dataset_match(df, rule))
        elif rule.custom_sql is not None:
            outcomes.append(_evaluate_custom_sql(df, rule, ctx))
        elif rule.dataset_eval is not None:
            outcomes.append(rule.dataset_eval(df))
        elif rule.agg_eval is not None:
            passed = rule.agg_eval(agg_row)
            observed = {k: agg_row.get(k) for k in rule.agg_exprs}
            outcomes.append(RuleOutcome(rule.text, passed, observed))
        elif rule.static_result is not None:
            outcomes.append(RuleOutcome(rule.text, rule.static_result))
        else:
            outcomes.append(RuleOutcome(rule.text, True))
    return outcomes


def _ratio_outcome(rule: CompiledRule, row, compare) -> RuleOutcome:
    """Matched/total ratio against ``compare`` (default: every row matches)."""
    total, matched = int(row["n"]), int(row["m"] or 0)
    ratio = (matched / total) if total else 1.0
    passed = getattr(ratio, _OPS[compare[0]])(compare[1]) if compare else matched == total
    return RuleOutcome(rule.text, bool(passed), {"matched": matched, "total": total})


def _ri_join(df: DataFrame, rule: CompiledRule, marker: str) -> DataFrame:
    """``df`` ⟕ broadcast reference keys; ``marker`` is true where a key resolves."""
    keys = rule.ri_keys.withColumnRenamed(rule.ri_ref_col, "__dq_ri_key")
    keys = keys.withColumn(marker, F.lit(True))
    return df.join(F.broadcast(keys), df[rule.ri_col].eqNullSafe(F.col("__dq_ri_key")), "left")


def _evaluate_ref_integrity(df: DataFrame, rule: CompiledRule) -> RuleOutcome:
    """Membership ratio of fact keys in the distinct reference-key set:
    one broadcast left join (reference keys are dimension-sized), one
    aggregate.  Null fact keys count as violations, matching Glue DQDL.
    Default threshold is ratio = 1.0 (every key resolves)."""
    marker = "__dq_ri_match"
    row = _ri_join(df, rule, marker).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col(marker), F.lit(False)).cast("long")).alias("m"),
    ).collect()[0]
    return _ratio_outcome(rule, row, rule.ri_compare)


def _evaluate_dataset_match(df: DataFrame, rule: CompiledRule) -> RuleOutcome:
    """DatasetMatch (Glue DQDL): fraction of primary rows whose key
    exists in the reference with EQUAL shared non-key columns — one
    key-partitioned join + one aggregate.  Reference rows are deduped on
    the key (a multi-match reference would inflate the ratio)."""
    keys = list(rule.dm_keys)
    shared = [c for c in df.columns if c in rule.dm_ref.columns and c not in keys]
    ref = rule.dm_ref.dropDuplicates(keys).select(
        *[F.col(f"`{k}`") for k in keys],
        *[F.col(f"`{c}`").alias(f"__dm_{c}") for c in shared],
        F.lit(True).alias("__dm_present"),
    )
    # the explicit presence flag is load-bearing: without it, a primary
    # row with all-null shared columns and an ABSENT key would count as
    # a match (eqNullSafe(null, null) is true per column)
    marker = F.coalesce(F.col("__dm_present"), F.lit(False))
    for c in shared:
        marker = marker & F.col(f"`{c}`").eqNullSafe(F.col(f"__dm_{c}"))
    joined = df.join(ref, keys, "left")
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(marker.cast("long")).alias("m"),
    ).collect()[0]
    return _ratio_outcome(rule, row, rule.dm_compare)


def _evaluate_custom_sql(df: DataFrame, rule: CompiledRule, ctx: RunContext) -> RuleOutcome:
    df.createOrReplaceTempView("primary")
    result = ctx.spark.sql(rule.custom_sql)
    if rule.custom_sql_compare is None:
        # Row-level form: passes if it returns at least one row (aggregate
        # interpretation); quarantine use resolves rows via semi-join.
        count = result.count()
        return RuleOutcome(rule.text, count > 0, {"rows": count})
    first = result.collect()
    scalar = first[0][0] if first else None
    op, value, value2 = rule.custom_sql_compare
    if scalar is None:
        return RuleOutcome(rule.text, False, {"scalar": None})
    if op == "between":
        passed = value < scalar < value2
    else:
        passed = getattr(scalar, _OPS[op])(value)
    return RuleOutcome(rule.text, bool(passed), {"scalar": scalar})


def _quarantine_split(
    df: DataFrame, rules: list[CompiledRule], ctx: RunContext
) -> tuple[DataFrame, DataFrame]:
    """(passing_rows, failing_rows) across all rules; a null predicate fails."""
    predicate: Column | None = None
    for rule in rules:
        rule_pred = rule.predicate
        marker = f"__dq_pass_{abs(hash(rule.text)) % (10**9)}"
        if rule.ri_keys is not None:
            # Row-level referential integrity: a row passes when its key
            # appears in the broadcast distinct reference-key set.
            df = _ri_join(df, rule, marker).drop("__dq_ri_key")
            rule_pred = F.coalesce(F.col(marker), F.lit(False))
        if rule.custom_sql is not None and rule.custom_sql_compare is None:
            # Row-level CustomSql: rows pass when their key tuple appears in
            # the result set (left-semi); broadcast keeps it shuffle-free
            # when the key set is small.
            df.createOrReplaceTempView("primary")
            keys_df = ctx.spark.sql(rule.custom_sql).distinct()
            key_cols = keys_df.columns
            marked = keys_df.withColumn(marker, F.lit(True))
            join_cond = [df[c].eqNullSafe(marked[c]) for c in key_cols]
            df = df.join(F.broadcast(marked), join_cond, "left").drop(*[marked[c] for c in key_cols])
            rule_pred = F.coalesce(F.col(marker), F.lit(False))
        if rule_pred is None:
            continue
        predicate = rule_pred if predicate is None else (predicate & rule_pred)
    if predicate is None:
        return df, df.limit(0)
    marker_cols = [c for c in df.columns if c.startswith("__dq_pass_")]
    passing = df.filter(predicate).drop(*marker_cols)
    failing = df.filter(~F.coalesce(predicate.cast("boolean"), F.lit(False))).drop(*marker_cols)
    return passing, failing


def run_dq_stage(
    df: DataFrame,
    dq_rules: dict,
    stage: str,
    ctx: RunContext,
    table_name: str = "primary",
    quarantine_writer=None,
) -> tuple[DataFrame, DQStageResult]:
    """Apply one stage's warn/quarantine/halt rules; returns the (possibly
    quarantine-filtered) DataFrame and the stage outcomes."""
    result = DQStageResult(stage=stage)
    stage_rules: dict = dq_rules.get(stage, {})
    if not stage_rules:
        return df, result
    compiler = RuleCompiler(df)

    warn = [compiler.compile(r) for r in stage_rules.get("warn_rules", [])]
    quarantine = [compiler.compile(r) for r in stage_rules.get("quarantine_rules", [])]
    halt = [compiler.compile(r) for r in stage_rules.get("halt_rules", [])]

    aggs = {k: v for r in warn + halt for k, v in r.agg_exprs.items()}
    fused = quarantine and not any(
        r.ri_keys is not None or (r.custom_sql is not None and r.custom_sql_compare is None)
        for r in quarantine
    )
    if fused:  # plain predicates: the quarantine counts ride the same aggregate
        row_level = [r.predicate.cast("boolean") for r in quarantine if r.predicate is not None]
        passes = reduce(lambda a, b: a & b, row_level, F.lit(True))
        aggs["__dq_rows"] = F.count(F.lit(1))
        aggs["__dq_passing"] = F.count_if(F.coalesce(passes, F.lit(False)))
    agg_row = _aggregate(df, aggs)

    pre_quarantine_df = df
    if warn:
        for outcome in _evaluate_rules(df, warn, ctx, agg_row):
            result.outcomes.append(outcome)
            if not outcome.passed:
                logger.warning("DQ warn rule failed (%s): %s", stage, outcome.rule)
            ctx.log_lineage("dq-warn", rule=outcome.rule, passed=outcome.passed,
                            observed=outcome.observed)

    if quarantine:
        passing, failing = _quarantine_split(df, quarantine, ctx)
        failing = failing.withColumn("quarantine_timestamp", F.current_timestamp())
        if fused:
            failing_count = agg_row["__dq_rows"] - agg_row["__dq_passing"]
        else:
            failing_count = failing.count()
        result.quarantined_count = failing_count
        result.quarantine_df = failing
        if failing_count:
            if quarantine_writer is not None:
                quarantine_writer(failing, f"{table_name}_quarantine_{stage}")
            if (agg_row["__dq_passing"] if fused else passing.limit(1).count()) == 0:
                raise DataQualityQuarantineAllRowsError(
                    f"All rows failed quarantine rules in stage {stage}"
                )
        df = passing
        ctx.log_lineage("dq-quarantine", stage=stage, quarantined=failing_count)

    if halt:
        outcomes = _evaluate_rules(pre_quarantine_df, halt, ctx, agg_row)
        failures = [o for o in outcomes if not o.passed]
        result.outcomes.extend(failures)
        if failures:
            raise DataQualityHaltError(
                f"DQ halt rule(s) failed in stage {stage}: "
                + "; ".join(o.rule for o in failures)
            )
    return df, result

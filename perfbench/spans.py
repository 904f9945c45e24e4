"""Spans around each layer's public functions, recorded from outside the
package.

``Tracer.install`` replaces every listed function, wherever a loaded
module of the package holds a reference to it, with a wrapper that opens
a span while the tracer is active.  Opening a span sets the Spark job
group to the span id; closing it restores the parent's group, so every
job carries the id of the innermost open span and the event log can be
attributed after the run (``eventlog.layer_split``).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from dataclasses import dataclass

PACKAGE = "aws_insurancelake_etl_spark"

# layer -> (module, public functions); a layer is named after its module.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "orchestrator": ("orchestrator", ("run_pipeline",)),
    "config": ("config", ("load_dataset_config",)),
    "readers": ("sources.readers", ("read_input",)),
    "mapping": ("mapping", ("custommapping",)),
    "operators": ("operators.registry", ("apply_transform_spec",)),
    "dq_runner": ("plans.dq_runner", ("run_dq_stage",)),
    "lineage": ("plans.lineage", ("LineageLog.numeric_audit",
                                  "LineageLog.numeric_audit_observed")),
    "pipeline": ("plans.pipeline", ("collect_to_cleanse",
                                    "cleanse_to_consume")),
    "writer": ("plans.writer", ("write_cleanse_table",
                                "write_consume_table")),
    "catalog": ("catalog", ("enforce_schema_evolution", "clear_partition",
                            "create_database")),
    "lakehouse_sql": ("sources.lakehouse_sql", ("sql_over_refs",
                                                "lakehouse_sql")),
    "entitymatch": ("operators.entitymatch", ("entity_match",
                                              "merge_into_primary")),
    "delta_lite": ("sources.delta_lite", ("write_delta", "delete_delta",
                                          "merge_delta", "read_delta")),
    "iceberg_lite": ("sources.iceberg_lite", ("write_iceberg",
                                              "delete_iceberg",
                                              "merge_iceberg",
                                              "read_iceberg")),
}


@dataclass
class Span:
    id: str
    layer: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans while ``active``; inactive wrappers only forward."""

    # job group of Spark work outside any span (setup, output checks)
    idle_group = "perfbench.idle"

    def __init__(self, spark_context) -> None:
        self.sc = spark_context
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup(self.idle_group, self.idle_group)
        else:
            self.sc.setJobGroup(span.id, span.layer)

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(f"span-{next(tracer._ids)}", layer, name,
                        parent.id if parent else None, time.time())
            tracer._stack.append(span)
            tracer._set_group(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.time()
                tracer._stack.pop()
                tracer._set_group(parent)
                tracer.spans.append(span)

        return traced

    def install(self) -> None:
        """Wrap every layer function in place, in its own module and in
        every loaded package module that imported it by name."""
        for layer, (module_name, names) in LAYERS.items():
            module = importlib.import_module(f"{PACKAGE}.{module_name}")
            for qualname in names:
                owner, attr = module, qualname
                if "." in qualname:
                    cls_name, attr = qualname.split(".")
                    owner = getattr(module, cls_name)
                original = getattr(owner, attr)
                wrapped = self.wrap(layer, qualname, original)
                setattr(owner, attr, wrapped)
                if owner is module:
                    for other in list(sys.modules.values()):
                        if (getattr(other, "__name__", "").startswith(PACKAGE)
                                and getattr(other, attr, None) is original):
                            setattr(other, attr, wrapped)

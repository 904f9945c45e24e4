"""Seeded generators for the benchmark's file drops and dataset configs.

Each workload is a fixed sequence of CSV drops written under
``<work>/landing/<database>/<table>/<yyyy>/<mm>/<dd>/<file>.csv`` plus the
per-dataset config files ``run_pipeline`` discovers by name.  The same seed
gives byte-identical drops.  Nothing here touches Spark.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pa_csv

ENTITY_TABLE = "customer"
PRIMARY_TABLE = "customer_primary"

CUSTOMER_COLUMNS = [("CustId", "custid"), ("SourceSystem", "sourcesystem"),
                    ("Name", "name"), ("Nation", "nation"),
                    ("Balance", "balance")]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
           "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
           "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
           "UNITED KINGDOM", "UNITED STATES"]
SOURCES = ["crm", "policy", "claims"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "bo",
             "da", "fe", "gu", "hi", "jo", "pa", "qu", "re", "su", "ty",
             "wa", "xe", "yo", "zu", "bri", "cla", "dro", "fla", "gro",
             "pla", "sto", "tri"]
# Entity match: same-person names differ by at most two edits (one
# delivery typo each side); different people in one block by at least
# MIN_NAME_DISTANCE, so the fuzzy level can only join a person to itself.
FUZZY_THRESHOLD = 0.85
MIN_NAME_DISTANCE = 6
# DQ: rows below this balance are quarantined (about 4.5% of rows)
QUARANTINE_MIN_BALANCE = -500


@dataclass
class Drop:
    path: str
    rows: int
    bytes: int
    redelivery: bool = False


@dataclass
class Workload:
    database: str
    table: str
    table_format: str
    drops: list[Drop] = field(default_factory=list)
    entitymatch_spec: dict | None = None


def _write_csv(path: str, header: list[str], columns: list) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(dict(zip(header, columns)))
    pa_csv.write_csv(table, path,
                     pa_csv.WriteOptions(quoting_style="none"))
    return os.path.getsize(path)


def _write_mapping(config_dir: str, base: str, columns) -> None:
    with open(os.path.join(config_dir, f"{base}.csv"), "w",
              encoding="utf-8") as fh:
        fh.write("SourceName,DestName\n")
        for src, dest in columns:
            fh.write(f"{src},{dest}\n")


def _drop_path(landing: str, database: str, table: str, day_index: int,
               name: str) -> str:
    day = np.datetime64("2024-01-01") + np.timedelta64(day_index, "D")
    year, month, dom = str(day).split("-")
    return os.path.join(landing, database, table, year, month, dom, name)


def entity_config(config_dir: str, database: str) -> dict:
    base = f"{database}-{ENTITY_TABLE}"
    os.makedirs(config_dir, exist_ok=True)
    _write_mapping(config_dir, base, CUSTOMER_COLUMNS)
    spec = {"input_spec": {"csv": {"header": True}},
            "transform_spec": {"changetype": {"balance": "decimal(12,2)"}}}
    with open(os.path.join(config_dir, f"{base}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(spec, fh)
    dq = {"after_transform": {
        "quarantine_rules": [
            f"ColumnValues 'balance' >= {QUARANTINE_MIN_BALANCE}"],
        "halt_rules": ["(ColumnExists 'custid') and (IsComplete 'custid')"],
    }}
    with open(os.path.join(config_dir, f"dq-{base}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(dq, fh)
    with open(os.path.join(config_dir, f"spark-{base}.sql"), "w",
              encoding="utf-8") as fh:
        fh.write(
            "SELECT custid, sourcesystem, name, nation, balance, "
            "year, month, day FROM {database}.{table} "
            "WHERE year = '{year}' AND month = '{month}' AND day = '{day}'")
    return {
        "primary_entity_table": PRIMARY_TABLE,
        "global_id_field": "gid",
        "exact_match_fields": {"source_primary_key": "custid",
                               "source_system_key": "sourcesystem"},
        "levels": [{
            "blocks": ["nation", "name[:1]"],
            "fields": [{"fieldname": "name", "type": "string",
                        "method": "levenshtein",
                        "threshold": FUZZY_THRESHOLD, "weight": 1}],
            "threshold": FUZZY_THRESHOLD,
        }],
    }


def _persons(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    """``n`` syllable names with a nation each.  Names sharing a fuzzy
    block (nation + first letter) are at least MIN_NAME_DISTANCE edits
    apart: candidates are drawn in surplus and kept greedily in draw
    order unless they clash with a name already kept."""
    import duckdb  # noqa: PLC0415

    syl = np.array(SYLLABLES)
    want = n * 3 // 2

    def draw(k: int) -> np.ndarray:
        out = syl[rng.integers(0, len(syl), want)]
        for _ in range(k - 1):
            out = np.char.add(out, syl[rng.integers(0, len(syl), want)])
        return np.char.capitalize(out)

    names = np.char.add(np.char.add(draw(2), " "), draw(3)).tolist()
    nation = rng.integers(0, len(NATIONS), want)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.register("c", pa.table({"name": names, "nation": nation,
                                    "i": np.arange(want)}))
        clashes = con.execute(
            "SELECT a.i, b.i FROM c a JOIN c b ON a.nation = b.nation "
            "AND left(a.name, 1) = left(b.name, 1) AND a.i < b.i "
            f"AND levenshtein(a.name, b.name) < {MIN_NAME_DISTANCE} "
            "ORDER BY b.i").fetchall()
    finally:
        con.close()
    earlier: dict[int, list[int]] = {}
    for a, b in clashes:
        earlier.setdefault(b, []).append(a)
    kept: list[int] = []
    keep = np.zeros(want, dtype=bool)
    for i in range(want):
        if not any(keep[a] for a in earlier.get(i, ())):
            keep[i] = True
            kept.append(i)
            if len(kept) == n:
                break
    if len(kept) < n:
        raise RuntimeError(f"only {len(kept)} of {n} separable names")
    return [names[i] for i in kept], nation[kept]


def _typo(rng: np.random.Generator, name: str) -> str:
    """One substituted letter, never the first (that one is blocked on)."""
    pos = int(rng.integers(1, len(name)))
    while name[pos] == " ":
        pos = int(rng.integers(1, len(name)))
    letter = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
    if letter == name[pos].lower():
        letter = "x" if letter != "x" else "q"
    return name[:pos] + letter + name[pos + 1:]


def entity_workload(work: str, seed: int, database: str, table_format: str,
                    drops: int, rows: int, persons: int,
                    redeliver_last: bool) -> Workload:
    """Customer drops of ``rows`` distinct persons from a fixed pool.

    A tenth of the persons also exist under an alias id in another
    source system, carrying the same name, so the fuzzy level has real
    matches; a person appears under at most one of its ids per drop, so
    no drop can resolve two rows to one global id.  About 30% of the
    delivered names carry a one-letter typo.  With ``redeliver_last`` one
    more drop follows that re-delivers the last one (same path, same
    bytes), as an at-least-once trigger would."""
    landing = os.path.join(work, "landing")
    spec = entity_config(os.path.join(work, "config"), database)
    rng = np.random.default_rng(seed)
    names, nation = _persons(rng, persons)
    source = rng.integers(0, len(SOURCES), persons)
    has_alias = rng.random(persons) < 0.1
    alias_source = (source + 1 + rng.integers(0, 2, persons)) % len(SOURCES)
    wl = Workload(database, ENTITY_TABLE, table_format,
                  entitymatch_spec=spec)
    for i in range(drops):
        who = rng.choice(persons, rows, replace=False)
        use_alias = has_alias[who] & (rng.random(rows) < 0.5)
        custid = np.where(use_alias, persons + who, who) + 1
        src = np.where(use_alias, alias_source[who], source[who])
        typo = rng.random(rows) < 0.3
        delivered = [_typo(rng, names[p]) if t else names[p]
                     for p, t in zip(who.tolist(), typo.tolist())]
        balance = rng.integers(-99_999, 1_000_000, rows)
        columns = [custid, np.array(SOURCES)[src], delivered,
                   np.array(NATIONS)[nation[who]],
                   [f"{b / 100:.2f}" for b in balance.tolist()]]
        path = _drop_path(landing, database, ENTITY_TABLE, i,
                          f"customer-{i:03d}.csv")
        size = _write_csv(path, [c for c, _ in CUSTOMER_COLUMNS], columns)
        wl.drops.append(Drop(path, rows, size))
    if redeliver_last:
        last = wl.drops[-1]
        wl.drops.append(Drop(last.path, last.rows, last.bytes,
                             redelivery=True))
    return wl

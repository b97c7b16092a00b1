#!/usr/bin/env python3
"""Independent correctness references and the checker for the benchmark.

The references are computed with DuckDB over the same parquet files the
engine reads, never with the engine:

* verdict_clean: per-part (docs, failed, violations) from a DuckDB replay
  of the YAML keyword rules and the span invariant; for the traced run's
  `ResumableValidate.run`, the same replay as per-(part, rule) violation
  counts, per-part failed docs and per-part commit metrics;
* operator_queries: each query's oracle SQL (`SparkEntry.oracleSql`, dumped
  by the benchmark JVM). For the all-pairs dedup query the oracle's
  `pairs` CTE is replaced by a join on shared shingles, which yields the same
  rows (a pair below the 0.5 threshold needs no shared shingle to be
  dropped) but runs in well under a second where the list_intersect
  cross join takes minutes.

References are cached under `.bench_build/ref/`, keyed by the input
fingerprint and this file's digest. To rebuild one:

    python3 perfbench/reference.py --seed 1

(the corpus must exist: run the benchmark once with that seed first).
"""
import argparse
import hashlib
import json
import math
import sys
from decimal import Decimal
from pathlib import Path

import duckdb
import yaml

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build" / "ref"

MEDIA_REF = "^m-[0-9a-f]{8}$"
SPAN_RULES = ["kind.enum", "media_ref.consistency", "media_ref.pattern",
              "text.consistency", "offset.minimum", "offset.order"]


# ---------------- docs workloads ----------------

def keyword_params(rule_file: Path) -> dict:
    """The keywords of a benchmark rule file. Only the keywords the replay
    implements are accepted, so a rule the replay would miss fails loudly."""
    r = yaml.safe_load(rule_file.read_text())
    props = r.get("properties", {})
    if set(r) - {"required", "properties"} or set(props) - {"doc_id", "spans"} \
            or set(props.get("doc_id", {})) - {"type", "pattern"} \
            or set(props.get("spans", {})) - {"minItems", "maxItems"} \
            or props.get("doc_id", {}).get("type", "string") != "string" \
            or set(r.get("required", [])) - {"doc_id", "spans"}:
        raise ValueError(f"{rule_file}: keywords outside the replay")
    return {"required": list(r.get("required", [])),
            "pattern": props.get("doc_id", {}).get("pattern"),
            "min_items": props.get("spans", {}).get("minItems"),
            "max_items": props.get("spans", {}).get("maxItems")}


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def replay_sql(corpus_glob: str, kw: dict) -> str:
    """One row per doc: part, doc_id and one violation count per rule name."""
    def span_count(pred: str) -> str:
        return (f"CASE WHEN spans IS NULL THEN 0 ELSE len(list_filter(spans, "
                f"x -> NOT coalesce({pred}, false))) END")
    req = " + ".join(
        [f"CAST({c} IS NULL AS INTEGER)" for c in kw["required"]] +
        ["CAST(spans IS NULL AS INTEGER)"])  # the span invariant's own
    pattern = (f"CAST(doc_id IS NOT NULL AND NOT regexp_matches(doc_id, "
               f"{_sq(kw['pattern'])}) AS INTEGER)" if kw["pattern"] else "0")
    min_items = (f"CAST(spans IS NOT NULL AND len(spans) < {kw['min_items']} "
                 "AS INTEGER)" if kw["min_items"] is not None else "0")
    max_items = (f"CAST(spans IS NOT NULL AND len(spans) > {kw['max_items']} "
                 "AS INTEGER)" if kw["max_items"] is not None else "0")
    return f"""
      SELECT part, doc_id,
        {req} AS "required",
        {pattern} AS "pattern",
        {min_items} AS "minItems",
        {max_items} AS "maxItems",
        {span_count("x.kind IN ('text', 'media')")} AS "kind.enum",
        {span_count("(x.kind = 'media') = (coalesce(x.media_ref, '') <> '')")}
          AS "media_ref.consistency",
        {span_count(f"coalesce(x.media_ref, '') = '' OR regexp_matches(x.media_ref, {_sq(MEDIA_REF)})")}
          AS "media_ref.pattern",
        {span_count("x.kind <> 'text' OR (x.text IS NOT NULL AND x.text <> '')")}
          AS "text.consistency",
        {span_count('x."offset" IS NOT NULL AND x."offset" >= 0')}
          AS "offset.minimum",
        CASE WHEN spans IS NULL OR len(spans) < 2 THEN 0
          ELSE len(list_filter(generate_series(2, len(spans)),
            i -> spans[i]."offset" <= spans[i - 1]."offset")) END
          AS "offset.order"
      FROM read_parquet({_sq(corpus_glob)})"""


RULES = ["required", "pattern", "minItems", "maxItems"] + SPAN_RULES


def docs_reference(corpus_dir: Path, rule_file: Path) -> dict:
    with duckdb.connect() as con:
        return _docs_reference(con, corpus_dir, rule_file)


def _docs_reference(con, corpus_dir: Path, rule_file: Path) -> dict:
    con.execute("SET threads TO 4")
    per_doc = replay_sql(str(corpus_dir / "*.parquet"), keyword_params(rule_file))
    total = " + ".join(f'"{r}"' for r in RULES)
    con.execute(f"CREATE TEMP TABLE v AS SELECT *, {total} AS nviol FROM ({per_doc})")
    parts = con.execute("""
      SELECT part, count(*), sum(CAST(nviol > 0 AS BIGINT)), sum(nviol)
      FROM v GROUP BY part ORDER BY part""").fetchall()
    by_rule = []
    for r in RULES:
        by_rule += con.execute(f"""
          SELECT part, {_sq(r)}, sum("{r}") FROM v GROUP BY part
          HAVING sum("{r}") > 0""").fetchall()
    facts = con.execute("""
      SELECT count(*), avg(CAST(nviol > 0 AS DOUBLE)),
        avg(CASE WHEN nviol > 0 THEN nviol END) FROM v""").fetchone()
    spans = con.execute(f"""
      SELECT min(len(spans)), max(len(spans)), avg(len(spans))
      FROM read_parquet({_sq(str(corpus_dir / '*.parquet'))})""").fetchone()
    return {
        "parts": [[int(p), int(d), int(f), int(n)] for p, d, f, n in parts],
        "by_rule": sorted([int(p), r, int(n)] for p, r, n in by_rule),
        "facts": {"docs": int(facts[0]), "failed_share": facts[1],
                  "violations_per_failed_doc": facts[2],
                  "spans_min": spans[0], "spans_max": spans[1],
                  "spans_avg": spans[2]},
    }


def check_verdict(passes0: dict, ref: dict) -> list:
    got = [list(map(int, r)) for r in passes0["parts"]]
    if got == ref["parts"]:
        return []
    diff = [(a, b) for a, b in zip(got, ref["parts"]) if a != b][:3]
    return [f"per-part verdicts differ from the DuckDB replay: "
            f"{len(got)} vs {len(ref['parts'])} parts, e.g. {diff}"]


def check_run(run: dict, ref: dict) -> list:
    """A finished `ResumableValidate.run`: its read-back and commit log."""
    errs = []
    got = sorted([int(p), r, int(n)] for p, r, n in run["by_rule"])
    if got != ref["by_rule"]:
        diff = [x for x in got if x not in ref["by_rule"]][:3]
        errs.append(f"read-back per-(part, rule) counts differ from the replay, e.g. {diff}")
    want_failed = [[p, f] for p, _, f, _ in ref["parts"] if f > 0]
    if [list(map(int, r)) for r in run["failed_by_part"]] != want_failed:
        errs.append("read-back failed docs per part differ from the replay")
    if [list(map(int, r)) for r in run["commits"]] != ref["parts"]:
        errs.append("commit-log metrics differ from the replay")
    return errs


# ---------------- operator queries ----------------

SHINGLES = r"""toks AS (SELECT doc_id,
    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents),
sh AS (SELECT doc_id,
    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    ELSE CAST([] AS VARCHAR[]) END AS s
  FROM toks),
u AS (SELECT doc_id, unnest(s) AS g FROM sh),
n AS (SELECT doc_id, len(s) AS n FROM sh)"""


def _pairs(cond: str) -> str:
    return f"""inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM u a JOIN u b ON a.g = b.g AND {cond} GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS j
  FROM inter JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b)"""


# the oracle SQL of the all-pairs query with the join-based pairs CTE
DEDUP_SQL = {
    "d_dedup_minhash": f"""WITH {SHINGLES},
{_pairs("a.doc_id < b.doc_id")}
SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5
ORDER BY id_a, id_b""",
}


def norm_cell(v):
    """Cell normalisation of tools/oracle_compare.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon(columns: list, rows: list) -> tuple:
    """Columns sorted by name, cells normalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(tuple(norm_cell(r[i]) for i in order) for r in rows))


def _cells(df) -> list:
    return list(df.itertuples(index=False, name=None))


def ops_reference(sf: Path, sqls: dict) -> dict:
    out = {}
    with duckdb.connect() as con:
        con.execute("SET threads TO 4")
        for t in ["documents", "lineitem"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet({_sq(str(sf / (t + '.parquet')))})")
        for name, sql in sqls.items():
            df = con.execute(DEDUP_SQL.get(name, sql)).fetchdf()
            cols, rows = canon(list(df.columns), _cells(df))
            out[name] = {"columns": cols, "rows": [list(r) for r in rows]}
    return out


def spark_rows(path: Path) -> tuple:
    import pandas as pd
    files = sorted(path.glob("*.parquet"))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return canon(list(df.columns), _cells(df))


def check_query(got: tuple, ref: dict) -> str:
    cols, rows = got
    if cols != ref["columns"]:
        return f"columns {cols} vs oracle {ref['columns']}"
    want = [tuple(r) for r in ref["rows"]]
    if len(rows) != len(want):
        return f"rows {len(rows)} vs oracle {len(want)}"
    if rows != want:
        diff = [(a, b) for a, b in zip(rows, want) if a != b][:2]
        return f"value mismatch, e.g. {diff}"
    return ""


# ---------------- cache ----------------

def _key(*parts: str) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in parts:
        h.update(p.encode())
    return h.hexdigest()[:24]


def cached(key_parts: list, compute, rebuild: bool = False) -> dict:
    CACHE.mkdir(parents=True, exist_ok=True)
    f = CACHE / f"{_key(*key_parts)}.json"
    if f.is_file() and not rebuild:
        return json.loads(f.read_text())
    ref = compute()
    f.write_text(json.dumps(ref))
    return ref


def docs_reference_cached(corpus_dir: Path, rule_file: Path, rebuild=False) -> dict:
    fp = (corpus_dir / "_BENCH_FINGERPRINT").read_text()
    return cached([fp, rule_file.read_text()],
                  lambda: docs_reference(corpus_dir, rule_file), rebuild)


def ops_reference_cached(sf: Path, sqls: dict, rebuild=False) -> dict:
    fp = (sf / "_BENCH_FINGERPRINT").read_text()
    # the oracle SQL comes from the engine's jar, so it is part of the key
    return cached([fp, json.dumps(sqls, sort_keys=True)],
                  lambda: ops_reference(sf, sqls), rebuild)


def main():
    ap = argparse.ArgumentParser(description="rebuild verdict_clean's cached reference")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    corpus = ROOT / ".bench_build" / "data" / "verdict_clean" / f"seed={a.seed}"
    if not (corpus / "_BENCH_FINGERPRINT").is_file():
        sys.exit(f"no corpus for seed {a.seed} under {corpus}: run the benchmark with it first")
    ref = docs_reference_cached(corpus, HERE / "rules" / "headline.yaml", rebuild=True)
    print(json.dumps(ref["facts"]))


if __name__ == "__main__":
    main()

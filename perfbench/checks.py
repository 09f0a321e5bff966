"""Output checks of the graft benchmark, run with DuckDB outside the timed
region. Each check returns a list of problems (empty when the outputs are
correct)."""
import glob
import math
import os

import duckdb

# Violation counts per rule and verdict totals, recounted from the seeded
# docs parquet independently of the engine: the four row rules, the
# uniqueness of doc_id and the media_ref -> asset catalog check (the
# catalog is asset-0 .. asset-999, as Fixtures.assets builds it).
RECOUNT_SQL = """
CREATE TEMP TABLE f AS
WITH d AS (SELECT doc_id, spans, part FROM read_parquet('{docs}/*.parquet'))
  SELECT doc_id, part,
    doc_id IS NULL OR trim(doc_id) = '' AS req,
    spans IS NULL OR len(spans) = 0 AS empty,
    coalesce(len(list_filter(range(2, len(spans) + 1),
      i -> spans[i].offset <= spans[i - 1].offset)) > 0, false) AS mono,
    coalesce(len(list_filter(spans, s -> CASE WHEN s.kind = 'text'
      THEN s.text IS NULL OR s.media_ref IS NOT NULL
      ELSE s.media_ref IS NULL OR s.text IS NOT NULL END)) > 0, false) AS field,
    doc_id IS NOT NULL AND count(*) OVER (PARTITION BY doc_id) > 1 AS uniq,
    coalesce(len(list_filter(spans, s -> s.media_ref IS NOT NULL AND NOT
      regexp_full_match(s.media_ref, 'asset-(0|[1-9][0-9]{{0,2}})'))), 0) AS ri
  FROM d;
WITH k AS (SELECT coalesce(doc_id, chr(0) || '<null>') AS k, part,
        req OR empty OR mono OR field OR uniq OR ri > 0 AS bad FROM f),
badk AS (SELECT DISTINCT k, part FROM k WHERE bad)
SELECT
  (SELECT count(*) FILTER (WHERE req) FROM f) AS "required(doc_id)",
  (SELECT count(*) FILTER (WHERE empty) FROM f) AS "spans_non_empty",
  (SELECT count(*) FILTER (WHERE mono) FROM f) AS "span_offsets_monotonic",
  (SELECT count(*) FILTER (WHERE field) FROM f) AS "span_field_consistency",
  (SELECT count(*) FILTER (WHERE uniq) FROM f) AS "unique(doc_id)",
  (SELECT sum(ri) FROM f) AS "referential_integrity(media_ref)",
  (SELECT count(*) FROM k) AS total_rows,
  (SELECT count(*) FROM k JOIN badk USING (k, part)) AS failed
"""


def recount(docs_path):
    con = duckdb.connect()
    create, select = RECOUNT_SQL.format(docs=docs_path).split(";")
    con.execute(create)
    cur = con.execute(select)
    row = cur.fetchone()
    cols = [c[0] for c in cur.description]
    r = dict(zip(cols, (int(v) for v in row)))
    rules = {c: r[c] for c in cols[:6] if r[c]}
    return rules, r["total_rows"], r["failed"]


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def engine_output(out_dir):
    """Per-rule violation counts and verdict totals of a runAndWrite output."""
    con = duckdb.connect()
    rules = dict(con.execute(
        f"SELECT rule_id, count(*) FROM {_pq(out_dir + '/violations')} GROUP BY 1").fetchall())
    total, passed, failed = con.execute(
        f"SELECT sum(total_rows), sum(passed), sum(failed) FROM {_pq(out_dir + '/verdicts')}"
    ).fetchone()
    return rules, int(total), int(passed), int(failed)


def compare_counts(label, rules, total, passed, failed, docs_path):
    exp_rules, exp_total, exp_failed = recount(docs_path)
    problems = []
    if rules != exp_rules:
        problems.append(f"{label}: violations per rule {rules} != recount {exp_rules}")
    if (total, failed, passed) != (exp_total, exp_failed, exp_total - exp_failed):
        problems.append(f"{label}: verdict totals {total}/{passed}/{failed} != "
                        f"recount {exp_total}/{exp_total - exp_failed}/{exp_failed}")
    return problems


def _canon(df):
    """Sorted row strings, columns sorted by name; floats to 6 decimals."""
    df = df[sorted(df.columns)]
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(f"{v:.6f}".rstrip("0").rstrip("."))
            else:
                row.append(str(v))
        rows.append("|".join(row))
    return sorted(rows)


def query_results(results_dir, oracles, sf_dir):
    """Each query result against its DuckDB oracle over the same tables;
    queries without an oracle must return rows. Returns (problems, rows)."""
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    problems, rows = [], {}
    names = sorted(os.listdir(results_dir))
    for name in names:
        got = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df()
        rows[name] = len(got)
        if name not in oracles:
            if got.empty:
                problems.append(f"{name}: no rows")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            problems.append(f"{name}: oracle error {e}")
            continue
        if _canon(got) != _canon(want):
            problems.append(f"{name}: result differs from the DuckDB oracle "
                            f"({len(got)} vs {len(want)} rows)")
    return problems, rows


def same_output(dir_a, dir_b):
    """True when two runAndWrite outputs hold the same verdict and
    violation rows."""
    con = duckdb.connect()
    for part in ("verdicts", "violations"):
        a, b = _pq(f"{dir_a}/{part}"), _pq(f"{dir_b}/{part}")
        diff = con.execute(f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
                           f" UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
        if diff:
            return False
    return True


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)

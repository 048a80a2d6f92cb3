"""Output checks of the benchmark, done in DuckDB outside the timed loop.

* `queries`: each query's complete result, the parquet files its last
  timed execution wrote, against graft's own DuckDB oracle SQL for that
  query, run over the same generated tables. Bag comparison: column order ignored, row order
  ignored, duplicates counted, doubles rounded to 6 decimals on both
  sides so summation order cannot flip a result.
* `dashboard`: a seeded sample of `getRealTimeMachineData` and
  `refreshRealTimeMachineData` calls against the condensation oracle
  (the reference's chunking rules written as plain SQL) over the fact
  rows derived from the generated events.
"""
from pathlib import Path

import duckdb

from gen import TABLES


def _canon_cols(con, rel):
    cols = con.execute(f"DESCRIBE {rel}").fetchall()
    out = []
    for name, typ, *_ in sorted(cols, key=lambda c: c[0].lower()):
        q = f'"{name}"'
        out.append(f"round({q}, 6)" if typ in ("DOUBLE", "FLOAT") else q)
    return [c[0].lower() for c in sorted(cols, key=lambda c: c[0].lower())], out


def queries(work, checks, data, drop_row=None):
    """Map of query name -> reason, for every query whose result differs
    from its oracle. A query without an oracle is reported, not skipped."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = Path(data) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wrong = {}
    names = [k.split(":", 1)[1] for k in checks if k.startswith("median_ms:")]
    for q in names:
        sql = checks.get(f"oracle:{q}")
        if sql is None:
            wrong[q] = "no oracle SQL"
            continue
        res = Path(work) / "results" / q
        if not res.exists():
            wrong[q] = "no result dump"
            continue
        try:
            src = f"read_parquet('{res}/*.parquet')"
            if drop_row == q:
                src = f"(SELECT * FROM {src} LIMIT (SELECT count(*) - 1 FROM {src}))"
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM {src}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {sql}")
            scols, sexpr = _canon_cols(con, "s")
            ocols, oexpr = _canon_cols(con, "o")
            if scols != ocols:
                wrong[q] = f"columns {scols} vs oracle {ocols}"
                continue
            a = f"SELECT {', '.join(sexpr)} FROM s"
            b = f"SELECT {', '.join(oexpr)} FROM o"
            extra = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            missing = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
            if extra or missing:
                wrong[q] = f"{extra} unexpected and {missing} missing rows"
        except duckdb.Error as e:
            wrong[q] = f"oracle compare error: {str(e).splitlines()[0][:200]}"
    con.close()
    return wrong


CONDENSE_SQL = """
WITH inrange AS (
  SELECT *, GREATEST(((messageTimestamp + 59) // 60) * 60, $cs + 60) AS chunk
  FROM rt WHERE id IN ('STATUS_' || $mid, 'PRODUCTION_COUNT_' || $mid)
    AND messageTimestamp BETWEEN $cs AND $le),
status_last AS (
  SELECT chunk, value FROM inrange WHERE starts_with(id, 'STATUS_')
  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY messageTimestamp DESC, value DESC) = 1),
status_down AS (
  SELECT chunk, max(CASE WHEN value = 'DOWN' THEN 1 ELSE 0 END) AS anyd
  FROM inrange WHERE starts_with(id, 'STATUS_') GROUP BY chunk),
prod_last AS (
  SELECT chunk, value FROM inrange WHERE starts_with(id, 'PRODUCTION_COUNT_')
  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY messageTimestamp DESC, value DESC) = 1)
SELECT g.generate_series AS ts,
  COALESCE(CASE WHEN sd.anyd = 1 THEN 'DOWN' ELSE sl.value END, 'UNKNOWN') AS status,
  COALESCE(pl.value, '') AS pc
FROM generate_series($cs + 60, $end, 60) g
LEFT JOIN status_last sl ON sl.chunk = g.generate_series
LEFT JOIN status_down sd ON sd.chunk = g.generate_series
LEFT JOIN prod_last pl ON pl.chunk = g.generate_series
ORDER BY ts
"""


# The real-time store's rows, derived here from the generated events
# (not read back from the store graft wrote), so a write that loses or
# corrupts rows fails the sample.
RT_SQL = """
CREATE VIEW rt AS
WITH t AS (
  SELECT 'site' || (user_id % 3) || '/area' || (user_id % 2) || '/line' || (user_id % 4)
           || '/m' || user_id AS m,
         epoch_us(ts) // 1000000 AS sec,
         CASE WHEN event_type = 'error' THEN 'DOWN'
              WHEN event_type IN ('purchase', 'click') THEN 'UP' ELSE 'IDLE' END AS status,
         CAST(floor(value * 100) AS BIGINT) AS cnt
  FROM read_parquet('$events'))
SELECT 'STATUS_' || m AS id, sec AS messageTimestamp, status AS value FROM t
UNION ALL
SELECT 'PRODUCTION_COUNT_' || m, sec, CAST(cnt AS VARCHAR) FROM t
"""


def _condense(con, mid, start, end):
    return [tuple(r) for r in con.execute(CONDENSE_SQL, {
        "mid": mid, "cs": start // 60 * 60, "le": end // 60 * 60, "end": end}).fetchall()]


def dashboard(checks, data):
    """Failure messages for sampled calls that differ from the oracle: a
    window call is the condensation of its window; a refresh of window
    [s, e] is the condensation of [e - 600, e + 3600] merged over the
    window's chunks (new chunks win), cut to the 12 hours before e + 3600."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(RT_SQL.replace("$events", str(Path(data) / "events.parquet")))
    wrong = []
    for k in sorted(k for k in checks if k.startswith("call:")):
        lines = checks[k].split("\n")
        kind, mid, start, end = lines[0].split(",")
        start, end = int(start), int(end)
        got = [tuple(x.split(",", 2)) for x in lines[1:]]
        got = [(int(t), s, p) for t, s, p in got]
        if kind == "refresh1h":
            new = _condense(con, mid, end - 600, end + 3600)
            fresh = {r[0] for r in new}
            keep = [r for r in _condense(con, mid, start, end) if r[0] not in fresh] + new
            want = sorted(r for r in keep if r[0] > end + 3600 - 12 * 3600)
        else:
            want = _condense(con, mid, start, end)
        if got != want:
            diff = sum(1 for x, y in zip(got, want) if x != y) + abs(len(got) - len(want))
            wrong.append(f"dashboard {kind} {mid} [{start}, {end}]: {diff} of {len(want)} chunks differ")
    con.close()
    return wrong

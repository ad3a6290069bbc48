"""Seeded generator of Milan-format day-files for the `milan_etl` workload.

Writes N traffic day-files (`sms-call-internet-mi-2013-11-0<d>.csv`) and N
mobility day-files (`mi-to-provinces-2013-11-0<d>.csv`) in the reference's
header layouts, plus `expected.properties` with the row counts the pipeline
must produce. Every cleaning branch of the pipeline is populated, as in the
engine's own ingest fixture (`IngestHarness.synthRows`):

- about 1 row in 97 has an unparseable datetime (dropped);
- CellID is uniform over [0, 12000), so ids >= 10000 hit the range filter;
- each metric is empty (null -> 0) with probability 1/8, else
  (u - 100) / 10 for u uniform over [0, 1024): negative below 100 (clamped
  to 0 for traffic);
- provinceName is drawn from a 12-name vocabulary of raw spellings, one of
  which ("atlantis") is absent from the provinces dimension (dropped).

The same (seed, sizes) always gives byte-identical files; the seed salts
every random draw.
"""
import os

import numpy as np

# Raw spellings, index-aligned with graft.pipeline.IngestHarness.MobilityRawNames.
RAW_PROVINCES = [
    "MILANO", "TORINO", "monza e della brianza", "VALLE D'AOSTA",
    "reggio nell'emilia", "BOLZANO/BOZEN", "massa-carrara",
    "pesaro e urbino", "NAPOLI", "atlantis", "REGGIO DI CALABRIA", "roma"]
UNKNOWN_PROVINCE = RAW_PROVINCES.index("atlantis")

TRAFFIC_HEADER = "datetime,CellID,countrycode,smsin,smsout,callin,callout,internet"
MOBILITY_HEADER = "datetime,CellID,provinceName,cell2Province,Province2cell"
TRAFFIC_PREFIX = "sms-call-internet-mi"
MOBILITY_PREFIX = "mi-to-provinces"


def _datetimes(rng, day, n):
    hours = rng.integers(0, 24, n)
    minutes = rng.integers(0, 60, n)
    bad = rng.random(n) < 1 / 97
    dts = [f"2013-11-{day:02d} {h:02d}:{m:02d}:00" for h, m in zip(hours, minutes)]
    for i in np.flatnonzero(bad):
        dts[i] = "not-a-timestamp"
    return dts, bad


# CSV text of (u - 100) / 10 for u in [0, 1024), index u; index 1024 is null.
_METRIC_TEXT = [f"{'-' if t < 0 else ''}{abs(t) // 10}.{abs(t) % 10}"
                for t in range(-100, 924)] + [""]


def _metrics(rng, n, k):
    """k metric columns as CSV text: '' (null) or a one-decimal number."""
    u = rng.integers(0, 1024, (n, k))
    u[rng.random((n, k)) < 1 / 8] = 1024
    return [",".join(_METRIC_TEXT[v] for v in row) for row in u.tolist()]


def _write(path, header, lines):
    with open(path, "w", newline="\n") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def generate(out_dir, seed, n_files, traffic_rows, mobility_rows):
    """Write the day-files and `expected.properties`; return the expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    exp = {"n_files": n_files, "traffic_rows": 0, "mobility_rows": 0,
           "traffic_fact_rows": 0, "mobility_fact_rows": 0}
    for day in range(1, n_files + 1):
        rng = np.random.default_rng([seed, 0, day])
        dts, bad = _datetimes(rng, day, traffic_rows)
        cells = rng.integers(0, 12000, traffic_rows)
        mets = _metrics(rng, traffic_rows, 5)
        _write(os.path.join(out_dir, f"{TRAFFIC_PREFIX}-2013-11-{day:02d}.csv"),
               TRAFFIC_HEADER,
               [f"{d},{c},39,{m}" for d, c, m in zip(dts, cells.tolist(), mets)])
        exp["traffic_rows"] += traffic_rows
        exp["traffic_fact_rows"] += int(np.sum(~bad & (cells < 10000)))

        rng = np.random.default_rng([seed, 1, day])
        dts, bad = _datetimes(rng, day, mobility_rows)
        cells = rng.integers(0, 12000, mobility_rows)
        names = rng.integers(0, len(RAW_PROVINCES), mobility_rows)
        mets = _metrics(rng, mobility_rows, 2)
        _write(os.path.join(out_dir, f"{MOBILITY_PREFIX}-2013-11-{day:02d}.csv"),
               MOBILITY_HEADER,
               [f"{d},{c},{RAW_PROVINCES[p]},{m}"
                for d, c, p, m in zip(dts, cells.tolist(), names.tolist(), mets)])
        exp["mobility_rows"] += mobility_rows
        exp["mobility_fact_rows"] += int(np.sum(
            ~bad & (cells < 10000) & (names != UNKNOWN_PROVINCE)))
    with open(os.path.join(out_dir, "expected.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in sorted(exp.items()))
    return exp


# The reference's acceptance query (get_top_cells) replayed in DuckDB over the
# raw traffic CSVs: cleaning, the hourly rollup and the per-cell mean, with
# the engine's exact-decimal sums (DECIMAL(38,4)) so the doubles agree.
TOP_CELLS_SQL = """
WITH raw AS (
  SELECT * FROM read_csv('{glob}', header = true, all_varchar = true)),
clean AS (
  SELECT try_strptime(datetime, '%Y-%m-%d %H:%M:%S') AS ts,
         CAST(CellID AS BIGINT) AS cell_id,
         {metrics}
  FROM raw),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour, cell_id,
         CAST(SUM(CAST(smsin + smsout + callin + callout + internet AS DECIMAL(38, 4)))
              AS DOUBLE) AS total_activity
  FROM clean
  WHERE ts IS NOT NULL AND cell_id BETWEEN 0 AND 9999
  GROUP BY 1, 2)
SELECT cell_id,
       CAST(SUM(CAST(total_activity AS DECIMAL(38, 4))) AS DOUBLE)
         / COUNT(total_activity) AS avg_load
FROM hourly
WHERE hour >= TIMESTAMP '2013-11-01 00:00:00'
GROUP BY cell_id
ORDER BY avg_load DESC, cell_id ASC
LIMIT 10
"""


def top_cells_sql(data_dir):
    metrics = ",\n         ".join(
        f"greatest(coalesce(TRY_CAST({m} AS DOUBLE), 0.0), 0.0) AS {m}"
        for m in ("smsin", "smsout", "callin", "callout", "internet"))
    return TOP_CELLS_SQL.format(
        glob=os.path.join(data_dir, f"{TRAFFIC_PREFIX}-*.csv"), metrics=metrics)

"""Output checks for the benchmark, computed with DuckDB.

Neither check reads the program's own results as a reference:

- check_export re-derives each export variant from the warehouse parquet
  with the SQL shapes of src/main/scala/graft/export/Exports.scala and
  compares row count and rows with the CSV the program wrote. The pc4/pc5/pc6
  averages are compared to a relative 1e-9, because they sum in a different
  order in each engine.
- check_query runs the query's Oracle.sql statement over the same testdata
  and compares column names, row count and a digest of the sorted rows,
  normalised by tools/check_oracle.py's table_key (exact double repr). The DuckDB
  digest depends only on the SQL text and the data, so it is cached.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import table_key  # noqa: E402  the repository's own normalisation

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

STRAAT = ("SELECT id, CASE WHEN verkorte_naam <> '' THEN verkorte_naam "
          "ELSE lange_naam END AS naam FROM openbare_ruimten")

EXPORT_SQL = {
    "all": f"""
        SELECT o.naam AS straat, a.huisnummer, a.huisletter || a.toevoeging AS toevoeging,
               a.postcode, g.naam AS gemeente, w.naam AS woonplaats, p.naam AS provincie,
               a.bouwjaar, a.rd_x, a.rd_y, a.latitude, a.longitude,
               a.oppervlakte AS vloeroppervlakte, a.gebruiksdoel,
               a.hoofd_nummer_id AS hoofdadres_nummer_id
        FROM adressen a
        LEFT JOIN ({STRAAT}) o ON a.openbare_ruimte_id = o.id
        LEFT JOIN gemeenten g ON a.gemeente_id = g.id
        LEFT JOIN woonplaatsen w ON a.woonplaats_id = w.id
        LEFT JOIN provincies p ON g.provincie_id = p.id""",
    "postcode": f"""
        SELECT o.naam AS straat, a.huisnummer, a.huisletter || a.toevoeging AS toevoeging,
               a.postcode, w.naam AS woonplaats
        FROM adressen a
        LEFT JOIN ({STRAAT}) o ON a.openbare_ruimte_id = o.id
        LEFT JOIN woonplaatsen w ON a.woonplaats_id = w.id""",
}
for _n in (4, 5, 6):
    EXPORT_SQL[f"pc{_n}"] = f"""
        SELECT substring(a.postcode, 1, {_n}) AS postcode{_n},
               avg(a.latitude) AS center_lat, avg(a.longitude) AS center_lon,
               count(*) AS aantal_adressen, min(w.naam) AS woonplaats
        FROM adressen a LEFT JOIN woonplaatsen w ON a.woonplaats_id = w.id
        WHERE a.postcode <> ''
        GROUP BY 1"""


def _bytes(files):
    return sum(os.path.getsize(f) for f in files)


def _close(a, b):
    """SQL: doubles a and b agree to a relative 1e-9, or are both NULL."""
    return (f"coalesce(({a} IS NULL AND {b} IS NULL) OR "
            f"abs({a} - {b}) <= 1e-9 * abs({b}) + 1e-12, false)")


def check_export(warehouse, variant, out_dir):
    """-> (rows, csv bytes, None if the output matches else a reason).

    The comparison runs inside DuckDB: the CSV rows must equal the oracle's
    as a multiset; pc4/pc5/pc6, whose averages differ in summation order,
    are joined on their unique postcode key and their doubles compared to a
    relative 1e-9."""
    con = duckdb.connect()
    for t in ["adressen"] + ["raw/" + n for n in
                             ["openbare_ruimten", "gemeenten", "woonplaatsen", "provincies"]]:
        name = t.split("/")[-1]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{warehouse}/{t}/*.parquet')")
    con.execute(f"CREATE TABLE want AS {EXPORT_SQL[variant]}")
    want = con.table("want")
    cols, types = want.columns, [str(t) for t in want.types]
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if not files:
        return 0, 0, "no CSV output"
    nbytes = _bytes(files)
    got_cols = con.execute(f"SELECT * FROM read_csv({files!r}, header=true, "
                           f"all_varchar=true) LIMIT 0").description
    if [d[0] for d in got_cols] != cols:
        return 0, nbytes, f"columns {[d[0] for d in got_cols]} != {cols}"
    spec = "{" + ", ".join(f"'{c}': '{t}'" for c, t in zip(cols, types)) + "}"
    con.execute(f"CREATE TABLE got AS SELECT * FROM read_csv({files!r}, header=true, "
                f"columns={spec}, allow_quoted_nulls=false)")
    rows = con.execute("SELECT count(*) FROM got").fetchone()[0]
    want_rows = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if rows != want_rows:
        return rows, nbytes, f"{rows} rows, expected {want_rows}"
    if variant.startswith("pc"):
        key = cols[0]
        same = " AND ".join(_close(f"g.{c}", f"w.{c}") if t == "DOUBLE"
                            else f"g.{c} IS NOT DISTINCT FROM w.{c}"
                            for c, t in zip(cols[1:], types[1:]))
        bad = con.execute(f"SELECT count(*) FROM want w FULL JOIN got g USING ({key}) "
                          f"WHERE g.{key} IS NULL OR w.{key} IS NULL OR NOT ({same})")
    else:
        bad = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                          "SELECT * FROM want)")
    bad = bad.fetchone()[0]
    if bad:
        return rows, nbytes, f"{bad} rows differ from the DuckDB oracle"
    return rows, nbytes, None


def _digest(rows, cols):
    return hashlib.sha256(table_key(rows, cols).encode()).hexdigest()


def _oracle(sf, sql, cache_dir):
    files = sorted(os.path.join(sf, f"{t}.parquet") for t in TABLES)
    key = hashlib.sha256((sql + "".join(f"{os.path.basename(f)}:{os.path.getsize(f)}"
                                        for f in files)).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    res = {"cols": sorted(cols), "rows": len(rows), "digest": _digest(rows, cols)}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def check_query(sf, sql, out_dir, cache_dir):
    """-> (rows, parquet bytes, None if the output matches else a reason)."""
    if not sql:
        return 0, 0, "no Oracle.sql entry"
    want = _oracle(sf, sql, cache_dir)
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    rel = duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})")
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    if sorted(cols) != want["cols"]:
        return len(rows), _bytes(files), f"columns {sorted(cols)} != {want['cols']}"
    if len(rows) != want["rows"]:
        return len(rows), _bytes(files), f"{len(rows)} rows, expected {want['rows']}"
    if _digest(rows, cols) != want["digest"]:
        return len(rows), _bytes(files), "row digest differs from the DuckDB oracle"
    return len(rows), _bytes(files), None

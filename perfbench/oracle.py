"""DuckDB output checks, using the compare of scripts/check_oracle.py.

A Spark result (a directory of parquet parts) matches its oracle when the
oracle SQL, run by DuckDB over the same generated input tables, gives the
same column names, the same hash type class per column, and the
same sorted row multiset with exact values.
"""
import glob
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    path = os.path.join(ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


co = _check_oracle()


def connect(input_dir):
    return co.connect(input_dir)


def compare(con, result_dir, sql):
    """(ok, detail) for one Spark result directory against its oracle SQL."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return False, "no Spark output"
    sres = con.sql(f"SELECT * FROM read_parquet({files!r})")
    scols = [d[0] for d in sres.description]
    stypes = dict(zip(scols, [co.hash_class(t) for t in sres.types]))
    srows = co.rows_of(sres.fetchall(), scols)
    try:
        dres = con.sql(sql)
        dcols = [d[0] for d in dres.description]
        dtypes = dict(zip(dcols, [co.hash_class(t) for t in dres.types]))
        hazards = [c for c, t in dtypes.items() if t == "hugeint"]
        if hazards:
            return False, f"oracle type hazard {hazards}"
        drift = {c: (stypes.get(c), dtypes.get(c)) for c in set(stypes) | set(dtypes)
                 if stypes.get(c) != dtypes.get(c)}
        if drift:
            return False, f"type drift {drift}"
        drows = co.rows_of(dres.fetchall(), dcols)
    except Exception as e:  # an oracle that cannot run is a failed check
        return False, f"oracle SQL error: {str(e).splitlines()[0][:200]}"
    if sorted(scols) != sorted(dcols):
        return False, f"schema mismatch spark={sorted(scols)} duck={sorted(dcols)}"
    if srows != drows:
        return False, f"value mismatch spark_rows={len(srows)} duck_rows={len(drows)}"
    return True, f"rows={len(srows)}"

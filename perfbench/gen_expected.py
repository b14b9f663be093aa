#!/usr/bin/env python3
"""Regenerate perfbench/expected/ops.json: the expected output digest of
every key in perfbench/keys/, per data scale, from the DuckDB oracles.

    python3 perfbench/gen_expected.py SF_DIR [SF_DIR ...]

Run from the repository root, once per change to the key lists or the
data. For each scale the benchmark JVM dumps each key's oracle SQL (the
static SparkEntry.oracleSql, or the data-parameterized one), the names of
its fractional columns, and Spark's own digest. DuckDB then runs the
oracle on the same parquet tables, as scripts/check.py does, and this
script digests the result exactly as graft.perfbench.Canon digests a
Spark frame. The DuckDB digest is what the benchmark checks against;
keys where Spark and DuckDB disagree are listed.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (launch spec of the benchmark JVM)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEP = "\x1f"
NULL = "\x00N"
SIX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def round6(x):
    """Six significant digits, as digits and a decimal exponent (Canon.roundDouble)."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == 0:
        return "0"
    sign, digits, exp = SIX.plus(decimal.Decimal(x)).normalize(SIX).as_tuple()
    return ("-" if sign else "") + "".join(map(str, digits)) + "e" + str(exp)


def value(v, top=False):
    """Canonical text of a value (Canon.value)."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # an integral float in a column Spark types as integral
        return str(int(v)) if top and v.is_integer() else round6(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return round6(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        base = EPOCH_UTC if v.tzinfo else EPOCH
        d = v - base
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return str(v)


def digest(cols, rows, frac_cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    frac = [i for i in order if cols[i] in frac_cols]
    sums = {cols[i]: [0.0, 0.0, 0, 0, 0] for i in frac}
    h = 0
    for r in rows:
        parts = []
        for i in order:
            if cols[i] in frac_cols:
                parts.append(NULL if r[i] is None else "~")
            else:
                parts.append(value(r[i], top=True))
        h += int.from_bytes(hashlib.md5(SEP.join(parts).encode()).digest()[:8], "big")
        for i in frac:
            if r[i] is None:
                continue
            x, s = float(r[i]), sums[cols[i]]
            if math.isnan(x):
                s[2] += 1
            elif math.isinf(x):
                s[3 if x > 0 else 4] += 1
            else:
                s[0] += x
                s[1] += abs(x)
    return {"rows": len(rows), "hash": format(h % (1 << 64), "016x"), "frac": sums}


def agrees(a, b):
    if a["rows"] != b["rows"] or a["hash"] != b["hash"] or set(a["frac"]) != set(b["frac"]):
        return False
    for c, x in a["frac"].items():
        y = b["frac"][c]
        if x[2:] != [int(v) for v in y[2:]]:
            return False
        if abs(x[0] - y[0]) > 1e-6 * max(x[1], y[1]) + 1e-9:
            return False
    return True


def dump_oracles(sf_dir, out):
    classpath, jvm_opts = run.launch_spec()
    tmp = os.path.join(run.STATE, "gen-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_opts + [run.HEAP, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", classpath, "graft.perfbench.Main",
            "--dump-oracles", out, "--sf", sf_dir, "--bench-dir", run.BENCH])
    subprocess.run(cmd, check=True, stdin=subprocess.DEVNULL)


def main():
    sf_dirs = sys.argv[1:]
    if not sf_dirs:
        sys.exit(__doc__)
    path = os.path.join(run.BENCH, "expected", "ops.json")
    expected = {}
    for sf_dir in sf_dirs:
        dump = os.path.join(run.STATE, f"oracles-{os.path.basename(sf_dir)}.json")
        dump_oracles(sf_dir, dump)
        oracles = json.load(open(dump))
        con = duckdb.connect()
        con.execute("SET memory_limit = '3GB'")
        con.execute("SET threads = 4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        scale = {}
        for key, o in sorted(oracles.items()):
            if o["sql"] is None:
                print(f"NO ORACLE {key}: keeping Spark's digest")
                scale[key] = dict(o["spark"], source="spark")
                continue
            print(f"... {key}", flush=True)
            try:
                cur = con.execute(o["sql"])
            except duckdb.Error as e:
                print(f"ORACLE FAILED {key}: {e}; keeping Spark's digest")
                scale[key] = dict(o["spark"], source="spark")
                continue
            cols = [d[0] for d in cur.description]
            d = digest(cols, cur.fetchall(), set(o["frac_cols"]))
            scale[key] = dict(d, source="duckdb")
            status = "agree" if agrees(d, o["spark"]) else "DISAGREE"
            print(f"{status} {os.path.basename(sf_dir)} {key} ({d['rows']} rows)")
            if status == "DISAGREE":
                print(f"  duckdb {d}\n  spark  {o['spark']}")
        expected[os.path.basename(sf_dir)] = scale
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()

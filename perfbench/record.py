"""Records the results the benchmark's correctness checks compare against.

    python3 perfbench/record.py

For each fixture under perfbench/data it writes perfbench/expected/:
  etl_<fixture>.json       fingerprints of the seven pipeline tables and
                           the quality row, computed by DuckDB from the
                           oracle SQL of graft.OracleQueries (q01-q08),
                           not by the code under test;
  curation_<fixture>.json  fingerprints of the curation queries' results
                           from this build, taken in two processes; a
                           query whose rows differ between the two is
                           checked by row count only.

The fingerprint here must stay in step with perfbench/src/Fingerprint.scala.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
EPOCH_DATE = datetime.date(1970, 1, 1)
EPOCH_TS = datetime.datetime(1970, 1, 1)


def dbl(v):
    v = float(v)
    if v == 0.0:
        v = 0.0
    return "f" + struct.pack(">d", v).hex()


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (float, decimal.Decimal)):
        return dbl(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - EPOCH_TS
        return f"T{d.days * 86400 * 10**6 + d.seconds * 10**6 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{(v - EPOCH_DATE).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical encoding for {type(v)}")


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        d = hashlib.sha256("\x1f".join(cell(r[i]) for i in order).encode()).digest()
        total = (total + int.from_bytes(d[:8], "big")) % 2**64
    return {"columns": sorted(columns), "rows": len(rows), "hash": f"{total:016x}"}


def jvm_record(classpath, data, work):
    work.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
    cmd += [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in run.ADD_OPENS]
    cmd += ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
            "-cp", classpath, "perfbench.Main", "record", str(data), str(build.BENCH / "expected"),
            str(work)]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", LC_ALL="C.utf8", LANG="C.utf8")
    subprocess.run(cmd, check=True, env=env, cwd=work, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    return (json.loads((work / "oracle_sql.json").read_text()),
            json.loads((work / "curation.json").read_text()))


def main():
    classpath = build.build()
    for data in sorted((build.BENCH / "data").iterdir()):
        work = build.OUT / "record"
        shutil.rmtree(work, ignore_errors=True)
        oracle, first = jvm_record(classpath, data, work / "a")
        _, second = jvm_record(classpath, data, work / "b")
        for name, fp in first.items():
            fp["count_only"] = fp["hash"] != second[name]["hash"]
            if fp["rows"] != second[name]["rows"]:
                sys.exit(f"record: {name} row count differs between runs")

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        etl = {}
        for name, sql in sorted(oracle.items()):
            cur = con.execute(sql)
            etl[name] = fingerprint([d[0] for d in cur.description], cur.fetchall())
        out = build.BENCH / "expected"
        (out / f"etl_{data.name}.json").write_text(json.dumps(etl, indent=1, sort_keys=True) + "\n")
        (out / f"curation_{data.name}.json").write_text(
            json.dumps(first, indent=1, sort_keys=True) + "\n")
        shutil.rmtree(work, ignore_errors=True)
        print(f"recorded {data.name}: {len(etl)} etl outputs, {len(first)} queries, "
              f"{sum(f['count_only'] for f in first.values())} count-only")


if __name__ == "__main__":
    main()

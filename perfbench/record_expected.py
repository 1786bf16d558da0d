#!/usr/bin/env python3
"""Record the expected result digests the benchmark checks against.

    python3 perfbench/record_expected.py 0.01

For every query of every workload, runs `graft.Verify` on the benchmark's
data at that scale, then `tools/check.py` (the DuckDB oracle gate). Only
queries the oracle passes get an expected digest, and the digest is taken
from the oracle's own result, so the expected values are the oracle's truth.
Writes `perfbench/expected/sf<scale>.json` and names every query left
unchecked. Needs DuckDB and pyarrow; the benchmark itself needs neither.

The digest encoding mirrors `perfbench.Digest` in the harness: both must
change together.
"""
import json
import math
import os
import re
import struct
import subprocess
import sys
import tempfile
from hashlib import sha256
from pathlib import Path

import run

TOOLS = run.ROOT / "tools"


def enc(v, out):
    if v is None:
        out.append("N;")
    elif isinstance(v, bool):
        out.append("B1;" if v else "B0;")
    elif isinstance(v, int):
        out.append(f"I{v};")
    elif isinstance(v, float):
        if math.isnan(v):
            out.append("FNaN;")
        elif v == 0.0:
            out.append("F0;")
        else:
            out.append("F%016x;" % struct.unpack(">Q", struct.pack(">d", v))[0])
    elif isinstance(v, str):
        out.append(f"S{len(v)}:{v};")
    elif isinstance(v, bytes):
        out.append(f"Y{v.hex()};")
    elif isinstance(v, list):
        out.append(f"L{len(v)}[")
        for x in v:
            enc(x, out)
        out.append("]")
    elif isinstance(v, dict):
        out.append(f"R{len(v)}{{")
        for x in v.values():
            enc(x, out)
        out.append("}")
    else:
        raise TypeError(f"no digest encoding for {type(v).__name__}")


def digest(table):
    """(rows, sha256 hex) of a pyarrow table, as `perfbench.Digest.of`."""
    names = sorted(table.column_names)
    md = sha256(("H" + ",".join(names) + "\n").encode())
    cols = [table.column(n).to_pylist() for n in names]
    for row in zip(*cols):
        out = []
        for v in row:
            enc(v, out)
        md.update(("".join(out) + "\n").encode())
    return table.num_rows, md.hexdigest()


def main(scale: str) -> int:
    import duckdb

    sys.path.insert(0, str(TOOLS))
    import check

    workloads = json.loads((run.HERE / "workloads.json").read_text())["workloads"]
    queries = sorted({q for wl in workloads.values() for q in wl["queries"]})
    data = run.HERE / "data" / f"sf{scale}"
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.build_dir()) as tmp:
        out = Path(tmp) / "verify"
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
            if os.environ.get("JAVA_HOME") else "java"
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.CPUS),
                   GRAFT_INDEX_DIR=str(Path(tmp) / "index"))
        subprocess.run([java, *run.ADD_OPENS, *run.JVM_HEAP,
                        f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graft.Verify",
                        str(data), str(out), ",".join(queries)],
                       env=env, cwd=tmp, check=True, stderr=subprocess.DEVNULL)
        oracle = json.loads((out / "oracle_sql.json").read_text())
        (out / "oracle_sql.json").write_text(json.dumps(
            {q: s for q, s in oracle.items() if q in queries}))
        gate = subprocess.run([sys.executable, str(TOOLS / "check.py"), str(out), str(data)],
                              stdout=subprocess.PIPE, text=True)
        print(gate.stdout)
        passed = set(re.findall(r"^PASS (\S+)", gate.stdout, re.M))
        con = duckdb.connect()
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        expected = {}
        for q in queries:
            if q in passed:
                rows, sha = digest(check.run_with_timeout(con, oracle[q]))
                expected[q] = {"rows": rows, "sha256": sha}
    unchecked = [q for q in queries if q not in expected]
    path = run.HERE / "expected" / f"sf{scale}.json"
    path.write_text("{\n" + ",\n".join(
        f'  "{q}": {json.dumps(v)}' for q, v in sorted(expected.items())) + "\n}\n")
    print(f"wrote {len(expected)} digests to {path.relative_to(run.ROOT)}; "
          f"unchecked: {', '.join(unchecked) or 'none'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

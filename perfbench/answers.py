"""Answer hashes for the analytics workload.

A key's answer hash is order-insensitive and bit-exact on floats, with the
same normalization as tools/compare.py: the parquet output is read with
DuckDB, columns sorted by name, each float replaced by its IEEE-754 hex
form, rows sorted; the sha256 of that row list is the hash.

    python3 perfbench/answers.py confirm
    python3 perfbench/answers.py record

run from the root of a checkout after an analytics run (run.py keeps the
last run's answers and fixture under .bench_build/results/analytics/).
`confirm` runs tools/compare.py, the repository's DuckDB gate, over those
answers; the fixture's integer-nanosecond `events.ts` is first copied as a
parquet timestamp[ns] column, which is what the DuckDB twins expect.
`record` writes perfbench/analytics_hashes.json; record only answers that
`confirm` passed.
"""
import hashlib
import json
import sys
from pathlib import Path

EXPECTED = Path(__file__).resolve().parent / "analytics_hashes.json"


def canon(v):
    if isinstance(v, float):
        return "NaN" if v != v else v.hex()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return str(v)


def result_hash(parquet_dir):
    import duckdb
    df = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')").fetch_df()
    cols = sorted(df.columns)
    rows = [canon(list(r)) for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: [(x is None, json.dumps(x)) for x in r])
    h = hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
    return h, len(rows)


def check(answers_dir, keys):
    """Per key: (hash, rows, expected hash, ok)."""
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    out = {}
    for k in keys:
        d = Path(answers_dir) / k
        if not d.is_dir():
            out[k] = (None, 0, expected.get(k), False)
            continue
        h, n = result_hash(d)
        out[k] = (h, n, expected.get(k), h == expected.get(k))
    return out


def confirm(kept):
    import shutil
    import subprocess
    import tempfile
    import pyarrow as pa
    import pyarrow.parquet as pq
    with tempfile.TemporaryDirectory(dir=kept) as tmp:
        fixture = Path(tmp) / "fixture"
        shutil.copytree(kept / "fixture", fixture)
        ev = fixture / "events.parquet"
        t = pq.read_table(ev)
        t = t.set_column(t.schema.get_field_index("ts"), "ts",
                         t.column("ts").cast(pa.timestamp("ns")))
        pq.write_table(t, ev)
        return subprocess.run([sys.executable, "tools/compare.py", str(kept / "answers"),
                               str(fixture)]).returncode


if __name__ == "__main__":
    kept = Path(".bench_build/results/analytics")
    if sys.argv[1:] == ["confirm"]:
        sys.exit(confirm(kept))
    if sys.argv[1:] != ["record"]:
        sys.exit(__doc__)
    d = kept / "answers"
    hashes = {p.name: result_hash(p)[0] for p in sorted(d.iterdir()) if p.is_dir()}
    EXPECTED.write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(hashes)} answer hashes to {EXPECTED}")

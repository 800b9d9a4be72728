"""Generate the expected-output fixture for the compression_signal gate.

An INDEPENDENT zlib pass (plain Python, no Spark) over every distinct
document text in the driver's test dirs, keyed by md5(text) so one
static oracle SQL string works at any scale factor: the oracle joins
``documents`` to this table on ``md5(coalesce(text,''))`` and projects
the expected (raw_bytes, comp_bytes, ratio, repetitive, incompressible)
— turning the formerly rows-only gate (zlib exists in no SQL engine)
into an exact rows+schema+hash comparison.

Semantics replicated from the documented contract of
``curation.compression_signal`` (level 6; ratio = round(comp/raw, 6),
0.0 for empty; flags only at raw_bytes >= 512; repetitive:
0 < ratio < 0.25; incompressible: ratio > 0.72).

Usage: python tools/make_compression_fixture.py [out_path [sf_dir ...]]
Writes fixtures/compression_expected.parquet from SF_DIRS by default.
Deterministic for a fixed zlib build (same container for builder,
driver, judge).
"""

import hashlib
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

LEVEL = 6
REPETITIVE_BELOW = 0.25
INCOMPRESSIBLE_ABOVE = 0.72
MIN_FLAG_BYTES = 512

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main(out_path: str, sf_dirs: list[str]) -> None:
    seen = {}
    for d in sf_dirs:
        t = pq.read_table(f"{d}/documents.parquet", columns=["text"])
        for v in t.column("text").to_pylist():
            s = v if v is not None else ""
            k = hashlib.md5(s.encode("utf-8")).hexdigest()
            if k in seen:
                continue
            raw = s.encode("utf-8")
            rb = len(raw)
            cb = len(zlib.compress(raw, LEVEL)) if raw else 0
            ratio = round(cb / rb, 6) if rb else 0.0
            seen[k] = (
                rb,
                cb,
                ratio,
                rb >= MIN_FLAG_BYTES and 0 < ratio < REPETITIVE_BELOW,
                rb >= MIN_FLAG_BYTES and ratio > INCOMPRESSIBLE_ABOVE,
            )
    keys = sorted(seen)
    tbl = pa.table(
        {
            "text_md5": pa.array(keys, pa.string()),
            "raw_bytes": pa.array([seen[k][0] for k in keys], pa.int64()),
            "comp_bytes": pa.array([seen[k][1] for k in keys], pa.int64()),
            "ratio": pa.array([seen[k][2] for k in keys], pa.float64()),
            "repetitive": pa.array([seen[k][3] for k in keys], pa.bool_()),
            "incompressible": pa.array([seen[k][4] for k in keys], pa.bool_()),
        }
    )
    pq.write_table(tbl, out_path)
    print(f"wrote {tbl.num_rows} distinct texts -> {out_path}")


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "fixtures/compression_expected.parquet",
        sys.argv[2:] or SF_DIRS,
    )

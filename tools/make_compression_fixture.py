"""Generate the zlib byte-count fixture for the compression_signal gate.

An INDEPENDENT zlib pass (plain Python, no Spark) over every distinct
document text in the driver's test dirs, keyed by md5(text) so one
static oracle SQL string works at any scale factor: the oracle joins
``documents`` to this table on ``md5(coalesce(text,''))`` and takes
(raw_bytes, comp_bytes) from it. zlib exists in no SQL engine, so these
two counts are all the fixture pins; the oracle SQL derives the ratio
and both flags from them itself.

Usage: python tools/make_compression_fixture.py [out_path [sf_dir ...]]
Writes fixtures/compression_expected.parquet from SF_DIRS by default.
Deterministic for a fixed zlib build (level 6, as
``curation.compression_signal``).
"""

import hashlib
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

LEVEL = 6

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
            seen[k] = (len(raw), len(zlib.compress(raw, LEVEL)) if raw else 0)
    keys = sorted(seen)
    tbl = pa.table(
        {
            "text_md5": pa.array(keys, pa.string()),
            "raw_bytes": pa.array([seen[k][0] for k in keys], pa.int64()),
            "comp_bytes": pa.array([seen[k][1] for k in keys], pa.int64()),
        }
    )
    pq.write_table(tbl, out_path)
    print(f"wrote {tbl.num_rows} distinct texts -> {out_path}")


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "fixtures/compression_expected.parquet",
        sys.argv[2:] or SF_DIRS,
    )

#!/usr/bin/env python3
"""Adversarial parity fixtures (driver-side python only — never a code
dependency): degenerate inputs the clean driver testdata never
contains, for cross-engine parity sweeps via Verify + check_oracle.

  python3 tools/make_nasty.py /tmp/nasty

writes three fixture dirs:
  <out>/text    — documents.parquet: empty text, 1/2-token docs,
                  unicode, an unlisted language, exact dups crossing
                  the q92 new/history split, PII-laden docs (email
                  with +digits local part, intl phone, IPv4s) for the
                  q95 redaction cascade
  <out>/vec     — embeddings.parquet: the sf0.001 set with every
                  vec_id % 17 == 3 zeroed (failed-encoder rows);
                  documents.parquet copied for ops that need both
  <out>/events  — events.parquet (timestamp[ns], the driver's physical
                  type): tied timestamps, zero/negative/huge values,
                  single-user funnel, a single-event user
  <out>/media   — media.parquet: declared n_frames=0, truncated
                  payload (5 declared / 1 present), empty binary, one
                  well-formed row. Point GRAFT_FIXTURES_DIR here.
  <out>/empty   — ALL ten driver tables, zero rows, exact physical
                  schemas (the empty-partition / empty-day case); run
                  the FULL query surface against it.

Round-7 findings this sweep caught: ANSI DIVIDE_BY_ZERO crashes in
q32/q94 (empty text), q68 (unlisted language), and the whole cosine
family q40-q78 (zero-norm embedding) — each fixed by pinning one
semantics in both engines (punct=0, weight=0, cos=0). Event family
passed unchanged.

Empty-tables findings: the four ANN/PQ certifications divided by a
zero query-panel (now emit the oracles' one (0, 0, NULL) row), the
q50/q60/q76 cached layouts crashed read-back (partitionBy of zero rows
writes no files — now Option-short-circuited), sq7 staged a NULL flush
tick. Expected residue: q14/q19/q25 mismatch because Spark emits no
super-aggregate row from rollup/cube/grouping-sets over an empty
relation where the SQL standard (and DuckDB) emits the grand total —
pinned as KNOWN DIVERGENCE in EdgeCaseSpec.

Sweep (per family):
  sbt -batch "runMain graft.Verify <dir> <out> <keys>"
  python3 tools/check_oracle.py <out> <dir>
"""
import os
import shutil
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF = "/root/testdata/sf0.001"


def text_fixture(d):
    con = duckdb.connect()
    con.execute(f"""
COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source,
             CAST(length(text) AS BIGINT) AS n_chars FROM (VALUES
  (1, '', 'en', 'src0'),
  (2, 'one', 'en', 'src0'),
  (3, 'two words', 'en', 'src0'),
  (4, 'три слова юникода', 'ru', 'src1'),
  (5, '', 'en', 'src0'),
  (10, 'one', 'en', 'src0'),
  (15, 'totally fresh content here today', 'en', 'src1'),
  (20, 'два слова', 'ru', 'src1'),
  (25, 'reach jane+42@corp.example.org or +44 20 7946 0958 ok', 'en', 'src1'),
  (30, 'node 10.1.2.3 mirrors 172.16.254.1 daily', 'en', 'src0')
) t(doc_id, text, lang, source))
TO '{d}/documents.parquet' (FORMAT PARQUET)""")


def vec_fixture(d):
    con = duckdb.connect()
    dim = len(con.execute(
        f"SELECT embedding FROM read_parquet('{SF}/embeddings.parquet') LIMIT 1"
    ).fetchone()[0])
    con.execute(f"""
COPY (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CASE WHEN vec_id % 17 = 3
            THEN CAST([0.0 for i in range(1, {dim} + 1)] AS FLOAT[])
            ELSE embedding END AS embedding, label
      FROM read_parquet('{SF}/embeddings.parquet'))
TO '{d}/embeddings.parquet' (FORMAT PARQUET)""")
    shutil.copy(f"{SF}/documents.parquet", f"{d}/documents.parquet")


def events_fixture(d):
    df = pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5],
        "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 3 +
                             ["2024-01-01 10:00:00", "2024-01-02 00:00:00"]),
        "user_id": [7, 7, 7, 7, 8],
        "event_type": ["click", "click", "click", "purchase", "view"],
        "value": [0.0, 0.0, -5.5, 1e15, 2.5],
        "props": ["{}"] * 5})
    t = pa.Table.from_pandas(df, schema=pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("ns")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())]))
    pq.write_table(t, f"{d}/events.parquet")


def media_fixture(d):
    import hashlib
    import struct

    def header(kind, w, h, nf):
        return b"GRFT" + bytes([kind]) + struct.pack(">HHH", w, h, nf)

    def payload(mid, nbytes, seed=99):
        out, j = b"", 0
        while len(out) < nbytes:
            out += hashlib.md5(f"{seed}-{mid}-{j}".encode()).digest()
            j += 1
        return out[:nbytes]

    rows = [
        (1, "audio", (2, 2, 0, 11), header(2, 2, 2, 0)),
        (2, "video", (8, 8, 5, 75), header(3, 8, 8, 5) + payload(2, 64)),
        (3, "image", (0, 0, 0, 0), b""),
        (4, "audio", (2, 2, 2, 139), header(2, 2, 2, 2) + payload(4, 128)),
    ]
    t = pa.Table.from_pydict({
        "media_id": [r[0] for r in rows],
        "media_type": [r[1] for r in rows],
        "meta": [{"width": r[2][0], "height": r[2][1],
                  "n_frames": r[2][2], "n_bytes": r[2][3]} for r in rows],
        "content": [r[3] for r in rows]},
        schema=pa.schema([
            ("media_id", pa.int64()), ("media_type", pa.string()),
            ("meta", pa.struct([("width", pa.int32()), ("height", pa.int32()),
                                ("n_frames", pa.int32()),
                                ("n_bytes", pa.int64())])),
            ("content", pa.binary())]))
    pq.write_table(t, f"{d}/media.parquet")


def empty_fixture(d):
    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    for name in tables:
        t = pq.read_table(f"{SF}/{name}.parquet")
        pq.write_table(t.slice(0, 0), f"{d}/{name}.parquet")


def main(out):
    for name, fn in [("text", text_fixture), ("vec", vec_fixture),
                     ("events", events_fixture), ("media", media_fixture),
                     ("empty", empty_fixture)]:
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        fn(d)
        print(f"wrote {d}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/nasty_fixtures")

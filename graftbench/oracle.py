"""Answer checks that do not come from the engine's own execution: each
entry's expected answer is computed by DuckDB from the same input files
the checked Spark output was computed from, and compared with it
order-insensitively.

Normalization follows tools/check_oracle.py: columns sorted by name,
doubles rounded to 6 decimals, objects compared as strings, integers
widened to int64. Rows are then sorted on every column before the
comparison."""
import glob
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("UInt", "Int")) or df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.reset_index(drop=True)


def sorted_rows(df):
    if df.empty or not len(df.columns):
        return df
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def same_answer(got, want):
    """(equal, reason) for two result frames after normalization."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return False, f"shape {got.shape} != {want.shape}"
    if sorted_rows(got).equals(sorted_rows(want)):
        return True, ""
    return False, "values differ"


def check(input_dir, out_dir, oracle_sql, entries):
    """{entry: reason} for every entry whose Spark output does not match
    its DuckDB oracle; an entry with no oracle or no output fails."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name in entries:
        sql = oracle_sql.get(name)
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if sql is None:
            bad[name] = "no oracle"
            continue
        if not files:
            bad[name] = "no output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the entry
            bad[name] = f"oracle error: {e}"
            continue
        ok, why = same_answer(got, want)
        if not ok:
            bad[name] = why
    con.close()
    return bad


def serde_violations(ops, msgs):
    """Report checks on every serde leg: `msgs` messages counted; on
    produce legs `mensagensComErro` equals the count of seq % 97 == 0;
    consume legs count what produce counted with no parse failure; Avro
    stores fewer bytes than JSON. Returns [(op id, reason)]."""
    import json
    errors = msgs // 97
    out = []
    produced = {}
    for o in ops:
        if o["status"] != "ok" or not o.get("report"):
            continue
        r = json.loads(o["report"][0])
        name = o["entry"]
        if r["totalMensagens"] != msgs:
            out.append((o["op"], f"{name}: counted {r['totalMensagens']} of {msgs}"))
        if name.startswith("produce"):
            produced[(o["pass"], name.rsplit("_", 1)[1])] = r["totalMensagens"]
            if r["mensagensComErro"] != errors:
                out.append((o["op"], f"{name}: erros {r['mensagensComErro']} != {errors}"))
        elif r["mensagensComErro"] != 0:
            out.append((o["op"], f"{name}: {r['mensagensComErro']} parse failures"))
    for o in ops:
        if o["status"] == "ok" and o.get("report") and not o["entry"].startswith("produce"):
            r = json.loads(o["report"][0])
            want = produced.get((o["pass"], o["entry"].rsplit("_", 1)[1]))
            if want is not None and r["totalMensagens"] != want:
                out.append((o["op"], f"{o['entry']}: consumed {r['totalMensagens']} != produced {want}"))
    stored = {}
    for o in ops:
        if o["entry"] in ("produce_avro", "produce_json") and o["status"] == "ok":
            stored.setdefault(o["pass"], {})[o["entry"]] = (o["op"], o["stored_bytes"])
    for p, s in stored.items():
        if len(s) == 2 and s["produce_avro"][1] >= s["produce_json"][1]:
            out.append((s["produce_avro"][0],
                        f"pass {p}: avro stored {s['produce_avro'][1]} >= json {s['produce_json'][1]}"))
    return out

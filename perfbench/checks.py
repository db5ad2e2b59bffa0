"""Independent reference checks, run after the measured window.

Each check returns a dict from op id to the reason that op's output is
wrong; the key "run" holds a reason that condemns the whole run. A
check of final state (a stateful daemon) cannot tell which op went
wrong, so it fails every op of the window.

- cdc_snapshot: per-topic message counts of every snapshot equal the
  source counts; a seeded sample of each snapshot's messages decodes
  back to source rows.
- cdc_tail: the live target equals a plain last-op-per-key fold of the
  generated op log over the batches applied.
- curation_daemon: the daemon sweep's cheap invariants (distinct ids,
  corpus fingerprints within the fingerprint index), and every corpus
  id came from an applied batch.
- query_mix: each query's row count equals its DuckDB oracle's, and the
  full result written during set-up equals the oracle under the
  canonical compare of tools/check_oracle.py.
"""
import datetime
import importlib.util
import json
import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fail_all(res, reason):
    out = {o["id"]: reason for o in res["ops"]}
    out["run"] = reason
    return out


def read_rows(path):
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def run(workload, res, inputs, manifest):
    err = res["checks"].get("check_error")
    if err:
        return fail_all(res, f"check could not run: {err}")
    return {"cdc_snapshot": snapshot, "cdc_tail": tail,
            "curation_daemon": curation, "query_mix": query_mix}[workload](
        res, inputs, manifest)


# ---------------------------------------------------------------- cdc_snapshot

def _iso(ms):
    return (datetime.datetime(1970, 1, 1) + datetime.timedelta(milliseconds=ms)).isoformat(sep=" ")


def _decode(v):
    """Extended-JSON value -> plain Python value (dates as ISO text)."""
    if isinstance(v, dict):
        if "$numberLong" in v:
            return int(v["$numberLong"])
        if "$numberDouble" in v:
            return float(v["$numberDouble"])
        if "$date" in v:
            return _iso(_decode(v["$date"]))
    return v


def _plain(v):
    """Source value -> the form a decoded message carries. A timestamp
    without zone travels as its text, one with a zone as ``$date``;
    both compare as ISO text."""
    return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v


def snapshot(res, inputs, manifest):
    failures = {}
    orders = pq.read_table(os.path.join(inputs, "orders.parquet")).to_pylist()
    n_orders = sum(1 for r in orders if r["o_totalprice"] > manifest["orders_min_price"])
    t = manifest["tables"]
    want = {"graft.orders-topic": n_orders,
            "graft.firehose": t["lineitem"] + t["customer"]}
    src = {}
    for ns in ("lineitem", "orders", "customer"):
        rows = pq.read_table(os.path.join(inputs, f"{ns}.parquet")).to_pylist()
        src[f"test.{ns}"] = {tuple((k, _plain(v)) for k, v in r.items()) for r in rows}
    c = res["checks"]
    for o, got, sample in zip(res["ops"], c["topic_counts"], c["samples"]):
        if not o["ok"]:
            continue
        if got != want:
            failures[o["id"]] = f"topic counts {got} != {want}"
        elif not sample:
            failures[o["id"]] = "no message sampled"
        for m in sample:
            doc = json.loads(m["value"])
            meta, data = doc["meta"], doc["data"]
            row = tuple((k, _decode(v)) for k, v in data.items())
            first = row[0][1]
            if (meta["op"] != "" or _decode(meta["_id"]) != first
                    or m["key"] != str(first) or row not in src.get(meta["ns"], ())):
                failures[o["id"]] = f"message does not decode to a source row: {m}"
                break
    return failures


# ---------------------------------------------------------------- cdc_tail

def tail(res, inputs, manifest):
    applied = res["checks"]["batches_applied"]
    if applied == 0:
        return fail_all(res, "no batch applied")
    ops = pq.read_table(os.path.join(inputs, "oplog.parquet")).to_pylist()
    state = {}
    for r in ops[: applied * manifest["batch_ops"]]:
        if r["op"] == "d":
            state.pop(r["id"], None)
        else:
            d = r["data"]
            state[r["id"]] = (d["user_id"], d["value"], d["props"])
    want = sorted(state.values())
    got = sorted((r["user_id"], r["value"], r["props"])
                 for r in read_rows(res["checks"]["target"]))
    if got != want:
        return fail_all(res, f"target ({len(got)} rows) != fold of the op log ({len(want)} rows)")
    return {}


# ---------------------------------------------------------------- curation_daemon

def curation(res, inputs, manifest):
    c = res["checks"]
    if c["batches_applied"] == 0:
        return fail_all(res, "no batch applied")
    problems = []
    if c["corpus_rows"] == 0:
        problems.append("empty corpus")
    if c["corpus_rows"] != c["corpus_distinct_ids"]:
        problems.append(f"{c['corpus_rows']} rows but {c['corpus_distinct_ids']} distinct ids")
    if not c["fp_index_covers_corpus"]:
        problems.append("corpus fingerprints missing from the fingerprint index")
    docs = pq.read_table(os.path.join(inputs, "curation.parquet"),
                         columns=["doc_id", "batch"]).to_pylist()
    allowed = {d["doc_id"] for d in docs if d["batch"] < c["batches_applied"]}
    ids = {r["doc_id"] for r in read_rows(c["corpus"])}
    if not ids <= allowed:
        problems.append(f"{len(ids - allowed)} corpus ids come from no applied batch")
    return fail_all(res, "; ".join(problems)) if problems else {}


# ---------------------------------------------------------------- query_mix

def _check_oracle():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_mix(res, inputs, manifest):
    import duckdb

    co = _check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    oracle = res["checks"]["oracle_sql"]
    out = res["checks"]["query_out"]
    bad = {}
    want_rows = {}
    for name, sql in oracle.items():
        try:
            want = con.sql(sql)
            wcols, wrows = co.canon(want.fetchall(), want.columns)
            got = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
            gcols, grows = co.canon(got.fetchall(), got.columns)
        except Exception as e:  # an unreadable output or oracle error is a failure
            bad[name] = f"compare error: {e}"
            continue
        want_rows[name] = len(wrows)
        if gcols != wcols:
            bad[name] = f"schema {gcols} != oracle {wcols}"
        elif grows != wrows:
            bad[name] = f"{len(grows)} rows differ from the oracle's {len(wrows)}"
    failures = {}
    for o in res["ops"]:
        if not o["ok"]:
            continue
        if o["name"] in bad:
            failures[o["id"]] = bad[o["name"]]
        elif o["rows"] != want_rows.get(o["name"]):
            failures[o["id"]] = f"count {o['rows']} != oracle {want_rows.get(o['name'])}"
    return failures

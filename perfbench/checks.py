"""Output checks: sampled operations against the DuckDB oracle SQL that the
engine's catalog (`graft.SparkEntry.oracleSql`) carries, run on the
generated inputs. Every check runs outside the timed region.

`check_run` returns one verdict per check: {"op", "name", "ok", "detail"}.
An operation with a failed verdict counts as failed and its time is
dropped from every timing metric.
"""
import glob
import json
import math
import os
import re

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _diff(name, got, want):
    """None when `got` equals `want` (lists of dicts, compared on want's
    keys), else a short description of the first difference."""
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, oracle has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for k, v in w.items():
            if not _same(g.get(k), v):
                return f"{name}: row {i} column {k}: {g.get(k)!r} != oracle {v!r}"
    return None


# ------------------------------------------------------------- review_job

def _flat_results_document(doc):
    """The nested results document in the flat column shape of the
    `ep2_results_document` oracle."""
    out = {"trends_json": doc["trends"]}
    for cls in ("positive", "negative", "neutral"):
        s = doc.get(f"{cls}_summary") or {}
        out[f"{cls}_summary_sentiment_type"] = s.get("sentiment_type")
        out[f"{cls}_summary_num_comments"] = s.get("num_comments_analyzed")
        out[f"{cls}_summary_summary"] = s.get("summary")
    for k, v in doc["recommendations"].items():
        out[f"recommendations_{k}"] = v
    for k, v in doc["statistics"].items():
        out[f"statistics_{k}"] = v
    return out


def _check_job(ch, oracles):
    job, outs = ch["job_dir"], ch["outputs"]
    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{job}/expected_documents.parquet'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{job}/events.parquet'")
    got = {k: [json.loads(r) for r in v] for k, v in outs.items()}
    out = []

    want = _rows(con, "SELECT * FROM documents ORDER BY doc_id")
    out.append(("documents", _diff("documents", got["documents"], want)))

    want = _rows(con, oracles["a1_sentiment_distribution"])
    have = sorted(got["distribution"], key=lambda r: r["sentiment"])
    out.append(("a1_sentiment_distribution",
                _diff("a1_sentiment_distribution", have, want)))

    want = _rows(con, oracles["a4_daily_trends"])
    trends = got["trends"][0]["trends"] if len(got["trends"]) == 1 else []
    out.append(("a4_daily_trends", _diff("a4_daily_trends", trends, want)))

    want = _rows(con, oracles["f11_insurance_risk"])
    out.append(("f11_insurance_risk", _diff("f11_insurance_risk", got["risk"], want)))

    want = _rows(con, oracles["ep2_results_document"])
    for w in want:
        w["trends_json"] = json.loads(w["trends_json"])
    have = [_flat_results_document(d) for d in got["results_document"]]
    out.append(("ep2_results_document", _diff("ep2_results_document", have, want)))
    return out


# ----------------------------------------------------------- corpus_dedup

def _check_ingest(ch, inputs, oracles):
    """Replays one ingest with the `st10_dedup_ingest` oracle: its first
    micro-batch (even ids) is the snapshot before the operation, its
    second (odd ids) the operation's batch. The oracle's output is the
    snapshot after the operation."""
    con = _con()
    all_docs = os.path.join(inputs, "batches", "*", "documents.parquet")
    con.execute("CREATE TABLE before_ids (doc_id BIGINT)")
    con.executemany("INSERT INTO before_ids VALUES (?)", [[i] for i in ch["before"]])
    con.execute(f"""CREATE VIEW documents AS
        SELECT d.doc_id * 2 AS doc_id, d.text, d.lang, d.source, d.n_chars
          FROM '{all_docs}' d JOIN before_ids USING (doc_id)
        UNION ALL
        SELECT doc_id * 2 + 1, text, lang, source, n_chars FROM '{ch['batch']}'""")
    survivors = [r[0] for r in con.execute(oracles["st10_dedup_ingest"]).fetchall()]
    want = sorted(i // 2 for i in survivors)
    if want == list(ch["after"]):
        return [("st10_dedup_ingest", None)]
    missing = sorted(set(want) - set(ch["after"]))[:5]
    extra = sorted(set(ch["after"]) - set(want))[:5]
    return [("st10_dedup_ingest",
             f"st10_dedup_ingest: snapshot has {len(ch['after'])} docs, oracle "
             f"{len(want)}; missing {missing}, unexpected {extra}")]


# ---------------------------------------------------------- vector_search

def _with_query(sql, qid):
    """An index oracle (pinned to query 20) for query `qid`."""
    sql, n = re.subn(r"(vec_id (?:=|<>) )20\b", lambda m: m.group(1) + str(qid), sql)
    if n != 3:
        raise ValueError(f"index oracle has {n} query-id sites, expected 3")
    return sql


def _with_delta(sql):
    """The `sim_index_compact` / `sim_index_query_delta` oracle (an IVF-PQ
    rebuilt from scratch over the corpus and one delta batch) with its
    pinned delta batch (every 17th vector under vec_id + 2000000) replaced
    by the `delta` view."""
    sql, n = re.subn(r"UNION ALL SELECT vec_id \+ 2000000, v FROM evec WHERE vec_id % 17 = 0",
                     "UNION ALL SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM delta", sql)
    if n != 1:
        raise ValueError(f"index oracle has {n} delta-batch sites, expected 1")
    return sql


def _check_query(ch, inputs, oracles):
    """A top-k query. Before any append it is checked with
    `sim_index_export`; after appends with `sim_index_query_delta` (the
    delta not yet compacted, read through the delta overlay) or
    `sim_index_compact` (read from the compacted index). Both replay the
    query over the base vectors plus the append batches applied so far."""
    con = _con()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{os.path.join(inputs, 'base', 'embeddings.parquet')}'")
    if ch["appended"] == 0:
        name = "sim_index_export"
        sql = _with_query(oracles[name], ch["query"])
    else:
        name = "sim_index_compact" if ch["compacted"] else "sim_index_query_delta"
        batches = sorted(glob.glob(os.path.join(inputs, "appends", "*", "embeddings.parquet")))
        con.execute("CREATE VIEW delta AS " + " UNION ALL ".join(
            f"SELECT * FROM '{p}'" for p in batches[:ch["appended"]]))
        sql = _with_query(_with_delta(oracles[name]), ch["query"])
    want = _rows(con, sql)
    got = [json.loads(r) for r in ch["rows"]]
    return [(name, _diff(f"{name} (query {ch['query']})", got, want))]


def check_run(workload, run, inputs, oracles):
    verdicts = []
    for ch in run["checks"]:
        try:
            if ch["kind"] == "job":
                res = _check_job(ch, oracles)
            elif ch["kind"] == "ingest":
                res = _check_ingest(ch, inputs, oracles)
            else:
                res = _check_query(ch, inputs, oracles)
        except Exception as e:  # a check that cannot run is a failed check
            res = [(ch["kind"], f"check raised {type(e).__name__}: {e}")]
        for name, detail in res:
            verdicts.append({"op": ch.get("op"), "name": name,
                             "ok": detail is None, "detail": detail})
    return verdicts

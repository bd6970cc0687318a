"""Expected results for every op, computed without graft.

Conn-log workloads are checked with DuckDB over the Zeek TSV the
benchmark generated (graft builds its binary fixtures from the same text,
so the oracle and the engine see the same rows). The heterogeneous
ZSON workload is checked against the tallies its generator kept while it
wrote the input. Each function returns {op name: expected canonical rows};
`check` compares them with what the engine returned.
"""
import json
import math


# Zeek TSV columns as DuckDB reads them; times stay text so `ts_us` is exact
COLUMNS = {
    "conn": {"ts": "VARCHAR", "uid": "VARCHAR", "orig_h": "VARCHAR", "orig_p": "BIGINT",
             "resp_h": "VARCHAR", "resp_p": "BIGINT", "proto": "VARCHAR", "service": "VARCHAR",
             "duration": "VARCHAR", "orig_bytes": "BIGINT", "resp_bytes": "BIGINT",
             "conn_state": "VARCHAR", "orig_pkts": "BIGINT", "resp_pkts": "BIGINT"},
    "dns": {"ts": "VARCHAR", "query": "VARCHAR", "rcode": "BIGINT", "qtype": "BIGINT"},
}
ZEEK_HEADER_LINES = 8


def _duck(twins):
    import duckdb
    con = duckdb.connect()
    for name, path in twins.items():
        cols = "{" + ", ".join(f"'{c}': '{t}'" for c, t in COLUMNS[name].items()) + "}"
        con.execute(f"""CREATE VIEW {name} AS
            SELECT *, CAST(replace(ts, '.', '') AS BIGINT) AS ts_us
            FROM read_csv('{path}/*.log', delim='\t', header=false, skip={ZEEK_HEADER_LINES},
                          quote='', escape='', columns={cols})""")
    return con


def _rows(con, sql, params=(), ordered=False):
    rows = [json.dumps(list(r)) for r in con.execute(sql, list(params)).fetchall()]
    return rows if ordered else sorted(rows)


def _norm(row):
    """One spelling per row, so sorting pairs up the same rows on both sides."""
    try:
        return json.dumps(json.loads(row), separators=(",", ":"))
    except ValueError:
        return row


def _zng_query(raw):
    o = raw["oracle"]
    con = _duck(o["twins"])
    needle = o["params"]["needle"]
    total = _rows(con, "SELECT count(*), sum(orig_bytes) FROM conn")
    return {
        "search_uid": _rows(con, "SELECT uid, orig_h, orig_bytes, proto FROM conn WHERE uid = ?", [needle]),
        "count_by": _rows(con, "SELECT service, count(*) FROM conn GROUP BY service"),
        "search_field": _rows(con, "SELECT count(*) FROM dns WHERE rcode = 13"),
        "sum_by": _rows(con, "SELECT proto, sum(orig_bytes) FROM conn GROUP BY proto"),
        "top": _rows(con, "SELECT uid, resp_bytes FROM conn ORDER BY resp_bytes DESC, uid DESC LIMIT 5",
                     ordered=True),
        "cut_vng": total,
        "zeek_to_zng": total,
    }


def _het_zson(raw):
    return raw["oracle"]["expected"]


def _convert(raw):
    con = _duck(raw["oracle"]["twins"])
    total = _rows(con, "SELECT count(*), sum(orig_bytes) FROM conn")
    return {name: total for name in raw["results"] if name.endswith(".read")}


def _lake_service(raw):
    o = raw["oracle"]
    con = _duck(o["twins"])
    p = o["params"]
    return {
        "count_by_proto": _rows(con, "SELECT proto, count(*) FROM conn GROUP BY proto"),
        "head": _rows(con, "SELECT uid FROM conn ORDER BY ts_us DESC LIMIT 5", ordered=True),
        "range_count": _rows(con, "SELECT count(*) FROM conn WHERE ts_us >= ? AND ts_us < ?",
                             [p["range_lo_us"], p["range_hi_us"]]),
        "load": [json.dumps([raw["results"]["load"]["expected_rows"]])],
    }


EXPECTED = {"zng_query": _zng_query, "het_zson": _het_zson, "convert": _convert,
            "lake_service": _lake_service}


def _same(a, b):
    """Equal canonical rows; numbers compare with a relative tolerance."""
    if isinstance(a, str) and isinstance(b, str):
        try:
            a, b = json.loads(a), json.loads(b)
        except ValueError:
            return a == b
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check(raw):
    """Return {op name: error text} for every op whose output is wrong.

    A read op is checked on its reference output (every timed execution
    already had to equal it). A write op is checked on what was read back
    from its output after the window; `convert`'s writes are checked by the
    read op that follows each of them.
    """
    expected = EXPECTED[raw["workload"]](raw)
    wrong = {}
    for name, res in raw["results"].items():
        if res.get("warm_error"):
            wrong[name] = "warm-up failed: " + res["warm_error"]
            continue
        if name not in expected:
            continue
        got = raw["readback"].get(name) if name in raw["readback"] else res.get("rows")
        want = expected[name]
        if got is not None and not res.get("ordered"):
            got, want = sorted(map(_norm, got)), sorted(map(_norm, want))
        if got is None:
            wrong[name] = "no output recorded"
        elif not _same(got, want):
            wrong[name] = f"expected {want[:5]} got {got[:5]}"
    if raw["workload"] == "convert":
        for name in list(wrong):
            if name.endswith(".read"):
                wrong.setdefault(name[: -len(".read")], "its output read back wrong")
    return wrong

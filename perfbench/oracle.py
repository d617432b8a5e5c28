"""Independent expected outputs, computed by DuckDB over the generator's rows.

Each workload's check writes the program's output (the columns named
below) to parquet, and ``compare`` counts the rows present on one side
and not the other (multiset difference, both ways). Sessions are cut here
from the documented rules, never from the program's code:

- packets: a new session on a key starts at the key's first packet or
  after a gap of at least (idle_timeout + 1) s; a TCP conversation ends at
  its own close (the generator gives each conversation a unique key, so
  no packet follows a close on the same key);
- events: a new session also starts after a terminator event;
- direction: "forward" is the direction of the session's first packet.
"""

from __future__ import annotations

import duckdb

IDLE_TIMEOUT_S = 120
IDLE_CUT_US = (IDLE_TIMEOUT_S + 1) * 1_000_000

# columns compared for the packet paths: (output column, DuckDB expression)
_FLOW_COLS = [
    ("src_ip", "src_ip"),
    ("src_port", "src_port"),
    ("dst_ip", "dst_ip"),
    ("dst_port", "dst_port"),
    ("protocol", "protocol"),
    ("first_ts_us", "first_ts_us"),
    ("duration_us", "duration_us"),
    ("handshake_completed", "hs"),
    ("reset_before_handshake", "has_rst * (1 - hs)"),
    ("reset_after_handshake", "has_rst * hs"),
    ("fwd_packets", "fwd_packets"),
    ("bwd_packets", "bwd_packets"),
    ("fwd_bytes", "fwd_bytes"),
    ("bwd_bytes", "bwd_bytes"),
    ("fwd_header_bytes", "fwd_header_bytes"),
    ("bwd_header_bytes", "bwd_header_bytes"),
    ("fin_count", "fin_count"),
    ("syn_count", "syn_count"),
    ("rst_count", "rst_count"),
    ("psh_count", "psh_count"),
    ("ack_count", "ack_count"),
]
FLOW_CHECK_COLS = [c for c, _ in _FLOW_COLS]
STREAM_CHECK_COLS = FLOW_CHECK_COLS + ["cause", "close_style"]

# the same columns read off the program's CIC-100 layout
CIC_CHECK_EXPRS = {
    "src_ip": "`Src IP`",
    "src_port": "`Src Port`",
    "dst_ip": "`Dst IP`",
    "dst_port": "`Dst Port`",
    "protocol": "`Protocol`",
    "first_ts_us": "`Timestamp`",
    "duration_us": "`Flow Duration`",
    "handshake_completed": "`TCP Handshake Completed`",
    "reset_before_handshake": "`TCP Reset Before Handshake`",
    "reset_after_handshake": "`TCP Reset After Handshake`",
    "fwd_packets": "`Total Fwd Packet`",
    "bwd_packets": "`Total Bwd packets`",
    "fwd_bytes": "`Total Length of Fwd Packet`",
    "bwd_bytes": "`Total Length of Bwd Packet`",
    "fwd_header_bytes": "`Fwd Header Length`",
    "bwd_header_bytes": "`Bwd Header Length`",
    "fin_count": "`FIN Flag Count`",
    "syn_count": "`SYN Flag Count`",
    "rst_count": "`RST Flag Count`",
    "psh_count": "`PSH Flag Count`",
    "ack_count": "`ACK Flag Count`",
}

# ... and off the flow superset the streaming path emits
SUPERSET_CHECK_EXPRS = {
    **{c: c for c in FLOW_CHECK_COLS[:10]},
    "fwd_packets": "fwd_payload_len_count",
    "bwd_packets": "bwd_payload_len_count",
    "fwd_bytes": "fwd_payload_len_total",
    "bwd_bytes": "bwd_payload_len_total",
    "fwd_header_bytes": "fwd_header_len_total",
    "bwd_header_bytes": "bwd_header_len_total",
    "fin_count": "fwd_fin_flag_count + bwd_fin_flag_count",
    "syn_count": "fwd_syn_flag_count + bwd_syn_flag_count",
    "rst_count": "fwd_rst_flag_count + bwd_rst_flag_count",
    "psh_count": "fwd_psh_flag_count + bwd_psh_flag_count",
    "ack_count": "fwd_ack_flag_count + bwd_ack_flag_count",
    "cause": "cause",
    "close_style": "close_style",
}


def _flow_sessions_sql(truth: str) -> str:
    """Per-session aggregates of the generator's packet rows."""
    return f"""
WITH w AS (
    SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY conv ORDER BY pseq) AS gap
    FROM read_parquet('{truth}')
), s AS (
    SELECT *, sum(CASE WHEN gap IS NULL OR gap >= {IDLE_CUT_US} THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv ORDER BY pseq ROWS UNBOUNDED PRECEDING) AS sid
    FROM w
), f AS (
    SELECT *,
        first_value(c2s) OVER ws AS fc2s,
        first_value(syn) OVER ws AS f_syn,
        first_value(ack) OVER ws AS f_ack,
        lead(c2s) OVER wl AS n_c2s, lead(syn) OVER wl AS n_syn,
        lead(ack) OVER wl AS n_ack, lead(ack_seq) OVER wl AS n_ack_seq
    FROM s
    WINDOW ws AS (PARTITION BY conv, sid ORDER BY pseq ROWS UNBOUNDED PRECEDING),
           wl AS (PARTITION BY conv, sid ORDER BY pseq)
), agg AS (
    SELECT conv, sid,
        arg_min(src_ip, pseq) AS src_ip, arg_min(src_port, pseq) AS src_port,
        arg_min(dst_ip, pseq) AS dst_ip, arg_min(dst_port, pseq) AS dst_port,
        any_value(proto) AS protocol,
        min(ts_us) AS first_ts_us, max(ts_us) - min(ts_us) AS duration_us,
        -- handshake: the session opens with a bare SYN, the reverse
        -- direction answers SYN+ACK, and the opener acks seq + 1
        max(CASE WHEN proto = 6 AND f_syn = 1 AND f_ack = 0 AND syn = 1
                  AND ack = 1 AND c2s <> fc2s AND n_c2s = fc2s AND n_ack = 1
                  AND n_syn = 0 AND n_ack_seq = (seq + 1) % 4294967296
                 THEN 1 ELSE 0 END) AS hs,
        max(rst) AS has_rst,
        max(fin) AS has_fin,
        count(*) FILTER (WHERE c2s = fc2s) AS fwd_packets,
        count(*) FILTER (WHERE c2s <> fc2s) AS bwd_packets,
        coalesce(sum(dlen) FILTER (WHERE c2s = fc2s), 0) AS fwd_bytes,
        coalesce(sum(dlen) FILTER (WHERE c2s <> fc2s), 0) AS bwd_bytes,
        coalesce(sum(hdr_len) FILTER (WHERE c2s = fc2s), 0) AS fwd_header_bytes,
        coalesce(sum(hdr_len) FILTER (WHERE c2s <> fc2s), 0) AS bwd_header_bytes,
        sum(fin) AS fin_count, sum(syn) AS syn_count, sum(rst) AS rst_count,
        sum(psh) AS psh_count, sum(ack) AS ack_count
    FROM f GROUP BY conv, sid
)
"""


STRING_COLS = {"src_ip", "dst_ip", "cause", "close_style", "source", "doc_id"}


def _select(exprs: list[tuple[str, str]]) -> str:
    return ", ".join(
        f"CAST({e} AS {'VARCHAR' if c in STRING_COLS else 'BIGINT'}) AS {c}" for c, e in exprs
    )


def expected_flows_sql(truth: str) -> str:
    return _flow_sessions_sql(truth) + f"SELECT {_select(_FLOW_COLS)} FROM agg"


def expected_stream_sql(truth: str) -> str:
    """Every generated TCP conversation closes itself (FIN or RST), and
    the stream emits a flow as soon as its TCP termination is seen."""
    cols = _FLOW_COLS + [
        ("cause", "CASE WHEN has_rst = 1 THEN 'TCP Reset' ELSE 'TCP Normal Termination' END"),
        ("close_style", "CASE WHEN has_rst = 1 THEN 'reset' ELSE 'four_way_fin' END"),
    ]
    return _flow_sessions_sql(truth) + f"SELECT {_select(cols)} FROM agg"


EVENT_CHECK_COLS = [
    "source", "doc_id", "session_index", "first_ts_us", "last_ts_us",
    "duration_us", "cause", "event_count", "fwd_event_count",
    "bwd_event_count", "n_tok_total", "n_tok_max", "n_tok_min",
]


def expected_events_sql(events_glob: str) -> str:
    """Gap + terminator sessions per (source, doc_id). A session closed by
    its key's next event idled out; a key's last session is exported at
    shutdown, as the repository's session_features oracle states it."""
    return f"""
WITH ev AS (SELECT source, doc_id, ts_us, n_tok, direction, terminator, event_seq
            FROM read_parquet('{events_glob}')),
flagged AS (
    SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                   WHEN ts_us - lag(ts_us) OVER w >= {IDLE_CUT_US} THEN 1
                   WHEN lag(terminator) OVER w = 1 THEN 1 ELSE 0 END AS new_session
    FROM ev WINDOW w AS (PARTITION BY source, doc_id ORDER BY ts_us, event_seq)
), sess AS (
    SELECT *, sum(new_session) OVER (PARTITION BY source, doc_id ORDER BY ts_us, event_seq
                                     ROWS UNBOUNDED PRECEDING) - 1 AS session_index
    FROM flagged
), agg AS (
    SELECT source, doc_id, session_index,
        min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us,
        max(ts_us) - min(ts_us) AS duration_us,
        count(*) AS event_count,
        count(*) FILTER (WHERE direction = 0) AS fwd_event_count,
        count(*) FILTER (WHERE direction = 1) AS bwd_event_count,
        sum(n_tok) AS n_tok_total, max(n_tok) AS n_tok_max, min(n_tok) AS n_tok_min,
        max(terminator) AS has_term
    FROM sess GROUP BY source, doc_id, session_index
)
SELECT source, doc_id, CAST(session_index AS BIGINT) AS session_index,
    first_ts_us, last_ts_us, duration_us,
    CASE WHEN has_term = 1 THEN 'TCP Normal Termination'
         WHEN session_index < max(session_index) OVER (PARTITION BY source, doc_id)
              THEN 'Idle Timeout'
         ELSE 'Exporter Shutdown' END AS cause,
    CAST(event_count AS BIGINT) AS event_count,
    CAST(fwd_event_count AS BIGINT) AS fwd_event_count,
    CAST(bwd_event_count AS BIGINT) AS bwd_event_count,
    CAST(n_tok_total AS BIGINT) AS n_tok_total,
    CAST(n_tok_max AS BIGINT) AS n_tok_max,
    CAST(n_tok_min AS BIGINT) AS n_tok_min
FROM agg
"""


def compare_count(expected_sql: str) -> int:
    """Number of rows the oracle expects."""
    con = duckdb.connect()
    try:
        return int(con.execute(f"SELECT count(*) FROM ({expected_sql})").fetchone()[0])
    finally:
        con.close()


def compare(expected_sql: str, actual_glob: str, cols: list[str]) -> dict:
    """Multiset comparison of the expected rows with the program's output
    parquet (``cols`` in both, same order). Returns row counts and the
    number of rows missing from / unexpected in the output."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE TEMP TABLE exp AS {expected_sql}")
        sel = ", ".join(cols)
        con.execute(f"CREATE TEMP TABLE act AS SELECT {sel} FROM read_parquet('{actual_glob}')")
        n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
        n_act = con.execute("SELECT count(*) FROM act").fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM exp EXCEPT ALL SELECT {sel} FROM act)"
        ).fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM act EXCEPT ALL SELECT {sel} FROM exp)"
        ).fetchone()[0]
    finally:
        con.close()
    return {"expected_rows": int(n_exp), "actual_rows": int(n_act),
            "missing": int(missing), "unexpected": int(extra),
            "ok": missing == 0 and extra == 0 and n_exp == n_act}

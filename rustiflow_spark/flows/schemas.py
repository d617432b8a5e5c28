"""Flow-schema assembly: Basic / CIC / CIDDS / NF / RustiFlow outputs.

Each schema is a pure Catalyst projection over the sessionization kernel's
feature-superset DataFrame (schema.FLOW_SUPERSET_SCHEMA) — derived scalar
features (rates, ratios, pooled variance, unit conversions; SURVEY.md §2.5
D1-D7) are SQL expressions, so they run JVM-side with whole-stage codegen
and cost nothing extra at scale. Each layout is built as SQL text and
applied with a single selectExpr: building the ~300 equivalent Column
objects one py4j call at a time cost 0.4-0.8 s per query.

Column orders and names replicate the reference's CSV layouts:
  Basic     10 cols  — flows/basic_flow.rs:316-333
  CIC      100 cols  — flows/cic_flow.rs:109-377 (clean variant: 96)
  CIDDS     10 cols  — flows/cidds_flow.rs:79-109
  NF        71 cols  — flows/nf_flow.rs:129-290
  RustiFlow 203 cols — flows/rusti_flow.rs:139-303 (count asserted by the
                       reference's own tests, rusti_flow_test.rs:61)

Timestamps are exported as integer epoch microseconds (engine-native
columnar form) rather than formatted strings; the column COUNT and order
match the reference exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Every expression below is Spark SQL text; each layout is applied with one
# selectExpr (one py4j round trip) instead of hundreds of Column
# constructions. Double literals carry a D suffix: an unsuffixed 0.0 is a
# DECIMAL in Spark SQL. Operands are parenthesized so composing helpers
# never changes the expression tree (or the floating-point results).

_US_PER_S = "1000000.0D"


def _project(flows: DataFrame, exprs: list[str], names: list[str]) -> DataFrame:
    assert len(exprs) == len(names), (len(exprs), len(names))
    return flows.selectExpr(*[f"{e} AS `{n}`" for e, n in zip(exprs, names)])


def _safe_div(num: str, den: str) -> str:
    return f"CASE WHEN ({den}) != 0 THEN ({num}) / ({den}) ELSE 0.0D END"


def _rate_per_s(value: str, duration_us: str) -> str:
    # features/util.rs:159-161
    return _safe_div(value, f"({duration_us}) / {_US_PER_S}")


def _iana(port: str) -> str:
    # flows/util.rs:4-10
    return (
        f"CASE WHEN {port} <= 1023 THEN 'well-known' "
        f"WHEN {port} <= 49151 THEN 'registered' ELSE 'dynamic' END"
    )


def _double(col: str) -> str:
    return f"CAST({col} AS DOUBLE)"


def _ms_to_us(col: str) -> str:
    return f"{col} * 1000.0D"


def _stats5(block: str) -> list[str]:
    """total, mean, std, max, min — FeatureStats::dump_values order."""
    return [f"{block}_{s}" for s in ("total", "mean", "std", "max", "min")]


# ---- pooled flow-level packet-length stats (packet_stats.rs:19-95) --------


def _flow_pkt_count() -> str:
    return "(fwd_packet_len_count + bwd_packet_len_count)"


def _flow_pkt_total() -> str:
    return "(fwd_packet_len_total + bwd_packet_len_total)"


def _flow_pkt_mean() -> str:
    return _safe_div(_flow_pkt_total(), _flow_pkt_count())


def _flow_pkt_extreme(fn: str, stat: str) -> str:
    return (
        "CASE WHEN fwd_packet_len_count > 0 AND bwd_packet_len_count > 0 "
        f"THEN {fn}(fwd_packet_len_{stat}, bwd_packet_len_{stat}) "
        f"WHEN fwd_packet_len_count > 0 THEN fwd_packet_len_{stat} "
        f"WHEN bwd_packet_len_count > 0 THEN bwd_packet_len_{stat} "
        "ELSE 0.0D END"
    )


def _flow_pkt_min() -> str:
    return _flow_pkt_extreme("least", "min")


def _flow_pkt_max() -> str:
    return _flow_pkt_extreme("greatest", "max")


def _flow_pkt_variance() -> str:
    # exact two-sample pooled population variance merge (packet_stats.rs:63-91)
    n1, n2 = _double("fwd_packet_len_count"), _double("bwd_packet_len_count")
    n = f"({n1} + {n2})"
    v1 = "(fwd_packet_len_std * fwd_packet_len_std)"
    v2 = "(bwd_packet_len_std * bwd_packet_len_std)"
    d1 = f"(fwd_packet_len_mean - ({_flow_pkt_mean()}))"
    d2 = f"(bwd_packet_len_mean - ({_flow_pkt_mean()}))"
    pooled = f"({n1} * {v1} + {n2} * {v2} + {n1} * {d1} * {d1} + {n2} * {d2} * {d2}) / {n}"
    return f"CASE WHEN {n} <= 1 THEN 0.0D ELSE {pooled} END"


def _flow_pkt_std() -> str:
    return f"sqrt({_flow_pkt_variance()})"


def _flag_total(name: str) -> str:
    return f"(fwd_{name}_flag_count + bwd_{name}_flag_count)"


def basic_schema(flows: DataFrame, without_contamination: bool = False) -> DataFrame:
    """BasicFlow 10-column layout (basic_flow.rs:316-333); clean variant =
    5 columns with IANA port classes (basic_flow.rs:335-345)."""
    if without_contamination:
        return _project(
            flows,
            [_iana("src_port"), _iana("dst_port"), "protocol", "duration_us", "cause"],
            ["src_port_iana", "dst_port_iana", "protocol", "duration", "flow_expire_cause"],
        )
    return _project(
        flows,
        [
            "flow_key", "src_ip", "src_port", "dst_ip", "dst_port", "protocol",
            "first_ts_us", "last_ts_us", "duration_us", "cause",
        ],
        [
            "flow_id", "source_ip", "source_port", "destination_ip",
            "destination_port", "protocol", "first_timestamp", "last_timestamp",
            "duration", "flow_expire_cause",
        ],
    )


CIC_COLUMNS = [
    "Flow ID", "Src IP", "Src Port", "Dst IP", "Dst Port", "Protocol", "Timestamp",
    "Flow Duration", "TCP Handshake Completed", "TCP Reset Before Handshake",
    "TCP Reset After Handshake", "Total Fwd Packet", "Total Bwd packets",
    "Total Length of Fwd Packet", "Total Length of Bwd Packet",
    "Fwd Packet Length Max", "Fwd Packet Length Min", "Fwd Packet Length Mean",
    "Fwd Packet Length Std", "Bwd Packet Length Max", "Bwd Packet Length Min",
    "Bwd Packet Length Mean", "Bwd Packet Length Std", "Flow Bytes/s",
    "Flow Packets/s", "Flow IAT Mean", "Flow IAT Std", "Flow IAT Max",
    "Flow IAT Min", "Fwd IAT Total", "Fwd IAT Mean", "Fwd IAT Std", "Fwd IAT Max",
    "Fwd IAT Min", "Bwd IAT Total", "Bwd IAT Mean", "Bwd IAT Std", "Bwd IAT Max",
    "Bwd IAT Min", "Fwd PSH Flags", "Bwd PSH Flags", "Fwd URG Flags",
    "Bwd URG Flags", "Fwd RST Flags", "Bwd RST Flags", "Fwd Header Length",
    "Bwd Header Length", "Fwd Packets/s", "Bwd Packets/s", "Packet Length Min",
    "Packet Length Max", "Packet Length Mean", "Packet Length Std",
    "Packet Length Variance", "FIN Flag Count", "SYN Flag Count", "RST Flag Count",
    "PSH Flag Count", "ACK Flag Count", "URG Flag Count", "CWR Flag Count",
    "ECE Flag Count", "Down/Up Ratio", "Average Packet Size", "Fwd Segment Size Avg",
    "Bwd Segment Size Avg", "Fwd Bytes/Bulk Avg", "Fwd Packet/Bulk Avg",
    "Fwd Bulk Rate Avg", "Bwd Bytes/Bulk Avg", "Bwd Packet/Bulk Avg",
    "Bwd Bulk Rate Avg", "Subflow Fwd Packets", "Subflow Fwd Bytes",
    "Subflow Bwd Packets", "Subflow Bwd Bytes", "FWD Init Win Bytes",
    "Bwd Init Win Bytes", "Fwd Act Data Pkts", "Bwd Act Data Pkts",
    "Fwd Seg Size Min", "Bwd Seg Size Min", "Active Mean", "Active Std",
    "Active Max", "Active Min", "Idle Mean", "Idle Std", "Idle Max", "Idle Min",
    "ICMP Code", "ICMP Type", "ICMP Echo Request Count", "ICMP Echo Reply Count",
    "ICMP Error Count", "ICMP Destination Unreachable Count",
    "Fwd TCP Retrans. Count", "Bwd TCP Retrans. Count", "Total TCP Retrans. Count",
    "Total Connection Flow Time",
]


def _cic_value_exprs(dur: str) -> list[str]:
    """CIC value expressions 12..100 (everything after the basic-info block),
    in cic_flow.rs:133-270 order."""
    subflows = _double("subflow_count")
    return [
        "fwd_payload_len_count",
        "bwd_payload_len_count",
        "fwd_payload_len_total",
        "bwd_payload_len_total",
        "fwd_payload_len_max",
        "fwd_payload_len_min",
        "fwd_payload_len_mean",
        "fwd_payload_len_std",
        "bwd_payload_len_max",
        "bwd_payload_len_min",
        "bwd_payload_len_mean",
        "bwd_payload_len_std",
        _rate_per_s("payload_len_total", dur),
        _rate_per_s(_double("payload_len_count"), dur),
        *[_ms_to_us(c) for c in ("iat_mean", "iat_std", "iat_max", "iat_min")],
        *[_ms_to_us(c) for c in _stats5("fwd_iat")],
        *[_ms_to_us(c) for c in _stats5("bwd_iat")],
        "fwd_psh_flag_count",
        "bwd_psh_flag_count",
        "fwd_urg_flag_count",
        "bwd_urg_flag_count",
        "fwd_rst_flag_count",
        "bwd_rst_flag_count",
        "fwd_header_len_total",
        "bwd_header_len_total",
        _rate_per_s(_double("fwd_payload_len_count"), dur),
        _rate_per_s(_double("bwd_payload_len_count"), dur),
        "payload_len_min",
        "payload_len_max",
        "payload_len_mean",
        "payload_len_std",
        "payload_len_std * payload_len_std",
        *[_flag_total(n) for n in ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece")],
        _safe_div(_double("bwd_payload_len_count"), _double("fwd_payload_len_count")),
        "payload_len_mean",
        "fwd_payload_len_mean",
        "bwd_payload_len_mean",
        "fwd_bulk_bytes_mean",
        "fwd_bulk_packets_mean",
        "fwd_bulk_rate",
        "bwd_bulk_bytes_mean",
        "bwd_bulk_packets_mean",
        "bwd_bulk_rate",
        _safe_div(_double("fwd_payload_len_count"), subflows),
        _safe_div("fwd_payload_len_total", subflows),
        _safe_div(_double("bwd_payload_len_count"), subflows),
        _safe_div("bwd_payload_len_total", subflows),
        "fwd_init_window_size",
        "bwd_init_window_size",
        "fwd_non_zero_payload_packets",
        "bwd_non_zero_payload_packets",
        "fwd_header_len_min",
        "bwd_header_len_min",
        "active_mean",
        "active_std",
        "active_max",
        "active_min",
        "idle_mean",
        "idle_std",
        "idle_max",
        "idle_min",
        "icmp_code",
        "icmp_type",
        "icmp_echo_request_count",
        "icmp_echo_reply_count",
        "icmp_error_count",
        "icmp_destination_unreachable_count",
        "fwd_retransmission_count",
        "bwd_retransmission_count",
        "fwd_retransmission_count + bwd_retransmission_count",
        dur,
    ]


def cic_schema(flows: DataFrame, without_contamination: bool = False) -> DataFrame:
    """CicFlow 100-column layout (96 clean)."""
    values = _cic_value_exprs(_double("duration_us"))
    tcp = ["handshake_completed", "reset_before_handshake", "reset_after_handshake"]
    if without_contamination:
        head = [_iana("src_port"), _iana("dst_port"), "protocol", "duration_us", *tcp]
        names = ["Src Port (IANA)", "Dst Port (IANA)"] + CIC_COLUMNS[5:6] + CIC_COLUMNS[7:]
    else:
        head = [
            "flow_key", "src_ip", "src_port", "dst_ip", "dst_port", "protocol",
            "first_ts_us", "duration_us", *tcp,
        ]
        names = CIC_COLUMNS
    return _project(flows, head + values, names)


def cidds_schema(flows: DataFrame, without_contamination: bool = False) -> DataFrame:
    """CiddsFlow 10-column layout (cidds_flow.rs:79-109); clean variant =
    7 columns (cidds_flow.rs:111-135)."""
    proto_str = (
        "CASE WHEN protocol = 6 THEN 'TCP' WHEN protocol = 17 THEN 'UDP' "
        "WHEN protocol IN (1, 58) THEN 'ICMP' ELSE 'OTHER' END"
    )
    tail = [
        proto_str, "CAST(duration_us / 1000 AS BIGINT)",
        _flow_pkt_total(), _flow_pkt_count(), "flags",
    ]
    tail_names = ["Proto", "Duration", "Bytes", "Packets", "Flags"]
    if without_contamination:
        return _project(
            flows,
            [_iana("src_port"), _iana("dst_port")] + tail,
            ["Src Port (IANA)", "Dst Port (IANA)"] + tail_names,
        )
    return _project(
        flows,
        ["src_ip", "src_port", "dst_ip", "dst_port", proto_str, "first_ts_us"] + tail[1:],
        ["Src IP", "Src Port", "Dst IP", "Dst Port", "Proto", "Date first seen"]
        + tail_names[1:],
    )


NF_COLUMNS = [
    "id", "expiration_id", "src_ip", "src_port", "dst_ip", "dst_port", "protocol",
    "ip_version", "bidirectional_first_seen_ms", "bidirectional_last_seen_ms",
    "bidirectional_duration_ms", "bidirectional_packets", "bidirectional_bytes",
    "src2dst_first_seen_ms", "src2dst_last_seen_ms", "src2dst_duration_ms",
    "src2dst_packets", "src2dst_bytes", "dst2src_first_seen_ms",
    "dst2src_last_seen_ms", "dst2src_duration_ms", "dst2src_packets",
    "dst2src_bytes", "bidirectional_min_ps", "bidirectional_mean_ps",
    "bidirectional_stddev_ps", "bidirectional_max_ps", "src2dst_min_ps",
    "src2dst_mean_ps", "src2dst_stddev_ps", "src2dst_max_ps", "dst2src_min_ps",
    "dst2src_mean_ps", "dst2src_stddev_ps", "dst2src_max_ps",
    "bidirectional_min_piat_ms", "bidirectional_mean_piat_ms",
    "bidirectional_stddev_piat_ms", "bidirectional_max_piat_ms",
    "src2dst_min_piat_ms", "src2dst_mean_piat_ms", "src2dst_stddev_piat_ms",
    "src2dst_max_piat_ms", "dst2src_min_piat_ms", "dst2src_mean_piat_ms",
    "dst2src_stddev_piat_ms", "dst2src_max_piat_ms",
] + [
    f"bidirectional_{n}_packets" for n in ("syn", "cwr", "ece", "urg", "ack", "psh", "rst", "fin")
] + [
    f"src2dst_{n}_packets" for n in ("syn", "cwr", "ece", "urg", "ack", "psh", "rst", "fin")
] + [
    f"dst2src_{n}_packets" for n in ("syn", "cwr", "ece", "urg", "ack", "psh", "rst", "fin")
]


NF_CLEAN_COLUMNS = [
    "src_port_iana", "dst_port_iana", "protocol", "ip_version",
    "bidirectional_duration_ms", "bidirectional_packets", "bidirectional_bytes",
    "src2dst_duration_ms", "src2dst_packets", "src2dst_bytes",
    "dst2src_duration_ms", "dst2src_packets", "dst2src_bytes",
] + NF_COLUMNS[23:]


def nf_schema(flows: DataFrame, without_contamination: bool = False) -> DataFrame:
    """NfFlow 71-column layout (nf_flow.rs:129-290); clean variant = 61
    columns (nf_flow.rs:292-431)."""
    expiration_id = (
        "CASE WHEN cause = 'Active Timeout' THEN 1 "
        "WHEN cause IN ('Idle Timeout', 'TCP Normal Termination') THEN 0 ELSE -1 END"
    )
    duration_ms = "CAST(duration_us / 1000 AS BIGINT)"
    if without_contamination:
        cols = [
            _iana("src_port"),
            _iana("dst_port"),
            "protocol",
            "ip_version",
            duration_ms,
            _flow_pkt_count(),
            _flow_pkt_total(),
            "fwd_duration_ms",
            "fwd_packet_len_count",
            "fwd_packet_len_total",
            "bwd_duration_ms",
            "bwd_packet_len_count",
            "bwd_packet_len_total",
        ]
        names = NF_CLEAN_COLUMNS
    else:
        cols = [
            "flow_key",
            expiration_id,
            "src_ip",
            "src_port",
            "dst_ip",
            "dst_port",
            "protocol",
            "ip_version",
            "CAST(first_ts_us / 1000 AS BIGINT)",
            "CAST(last_ts_us / 1000 AS BIGINT)",
            duration_ms,
            _flow_pkt_count(),
            _flow_pkt_total(),
            "first_ts_fwd_ms",
            "last_ts_fwd_ms",
            "fwd_duration_ms",
            "fwd_packet_len_count",
            "fwd_packet_len_total",
            "first_ts_bwd_ms",
            "last_ts_bwd_ms",
            "bwd_duration_ms",
            "bwd_packet_len_count",
            "bwd_packet_len_total",
        ]
        names = NF_COLUMNS
    cols += [_flow_pkt_min(), _flow_pkt_mean(), _flow_pkt_std(), _flow_pkt_max()]
    for block in ("fwd_packet_len", "bwd_packet_len", "iat", "fwd_iat", "bwd_iat"):
        cols += [f"{block}_{s}" for s in ("min", "mean", "std", "max")]
    flags = ("syn", "cwr", "ece", "urg", "ack", "psh", "rst", "fin")
    cols += [_flag_total(n) for n in flags]
    cols += [f"{d}_{n}_flag_count" for d in ("fwd", "bwd") for n in flags]
    return _project(flows, cols, names)


RUSTIFLOW_COLUMNS = (
    [
        "flow_id", "source_ip", "source_port", "destination_ip", "destination_port",
        "protocol", "ip_version", "source_ip_scope", "destination_ip_scope",
        "path_locality", "timestamp_first", "timestamp_last", "flow_duration_us",
        "flow_expire_cause", "tcp_handshake_completed", "tcp_reset_before_handshake",
        "tcp_reset_after_handshake", "tcp_close_style",
        # TimingStats
        "first_timestamp_fwd", "first_timestamp_bwd", "last_timestamp_fwd",
        "last_timestamp_bwd", "fwd_duration_ms", "bwd_duration_ms",
    ]
    + [f"iat_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_iat_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_iat_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [
        "packet_count", "packet_len_total", "packet_len_mean", "packet_len_max",
        "packet_len_min", "packet_len_std", "fwd_packet_count", "bwd_packet_count",
    ]
    + [f"fwd_packet_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_packet_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"header_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_header_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_header_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"payload_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + ["payload_len_variance"]
    + [f"fwd_payload_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_payload_len_{s}" for s in ("total", "mean", "std", "max", "min")]
    + ["fwd_non_zero_payload_packets", "bwd_non_zero_payload_packets"]
    + ["fwd_bulk_rate_s", "bwd_bulk_rate_s", "fwd_bulk_count", "bwd_bulk_count"]
    + [f"fwd_bulk_packets_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_bulk_packets_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_bulk_bytes_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_bulk_bytes_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_bulk_duration_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_bulk_duration_{s}" for s in ("total", "mean", "std", "max", "min")]
    + ["subflow_count"]
    + [f"active_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"idle_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [
        "icmp_type", "icmp_code", "icmp_echo_request_count", "icmp_echo_reply_count",
        "icmp_error_count", "icmp_destination_unreachable_count",
        "flow_retransmission_count", "fwd_retransmission_count",
        "bwd_retransmission_count", "flow_duplicate_ack_count",
        "fwd_duplicate_ack_count", "bwd_duplicate_ack_count",
        "flow_zero_window_count", "fwd_zero_window_count", "bwd_zero_window_count",
        "fwd_init_window_size", "bwd_init_window_size",
    ]
    + [f"window_size_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"fwd_window_size_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [f"bwd_window_size_{s}" for s in ("total", "mean", "std", "max", "min")]
    + [
        f"{d}_{n}_flag_count"
        for d in ("fwd", "bwd")
        for n in ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece")
    ]
    + [
        f"total_{n}_flag_count"
        for n in ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece")
    ]
    + ["flags"]
    + [
        "flow_bytes_s", "flow_packets_s", "fwd_bytes_s", "fwd_packets_s",
        "bwd_bytes_s", "bwd_packets_s", "fwd_subflow_packets_mean",
        "fwd_subflow_bytes_mean", "bwd_subflow_packets_mean",
        "bwd_subflow_bytes_mean", "up_down_ratio",
    ]
)


RUSTIFLOW_CLEAN_COLUMNS = (
    [
        "source_port_iana", "destination_port_iana", "protocol", "ip_version",
        "source_ip_scope", "destination_ip_scope", "path_locality",
        "flow_duration_us", "flow_expire_cause", "tcp_handshake_completed",
        "tcp_reset_before_handshake", "tcp_reset_after_handshake",
        "tcp_close_style", "fwd_duration_ms", "bwd_duration_ms",
    ]
    + RUSTIFLOW_COLUMNS[24:]
)


def rustiflow_schema(flows: DataFrame, without_contamination: bool = False) -> DataFrame:
    """RustiFlow 203-column layout (rusti_flow.rs:139-303); clean variant =
    194 columns (rusti_flow.rs:300-460)."""
    dur = _double("duration_us")
    tcp = [
        "cause", "handshake_completed", "reset_before_handshake",
        "reset_after_handshake", "close_style",
    ]
    if without_contamination:
        cols = [
            _iana("src_port"), _iana("dst_port"), "protocol", "ip_version",
            "src_ip_scope", "dst_ip_scope", "path_locality", "duration_us",
            *tcp, "fwd_duration_ms", "bwd_duration_ms",
        ]
        names = RUSTIFLOW_CLEAN_COLUMNS
    else:
        cols = [
            "flow_key", "src_ip", "src_port", "dst_ip", "dst_port", "protocol",
            "ip_version", "src_ip_scope", "dst_ip_scope", "path_locality",
            "first_ts_us", "last_ts_us", "duration_us", *tcp,
            "first_ts_fwd_ms", "first_ts_bwd_ms", "last_ts_fwd_ms",
            "last_ts_bwd_ms", "fwd_duration_ms", "bwd_duration_ms",
        ]
        names = RUSTIFLOW_COLUMNS
    cols += _stats5("iat") + _stats5("fwd_iat") + _stats5("bwd_iat")
    cols += [
        _flow_pkt_count(),
        _flow_pkt_total(),
        _flow_pkt_mean(),
        _flow_pkt_max(),
        _flow_pkt_min(),
        _flow_pkt_std(),
        "fwd_packet_len_count",
        "bwd_packet_len_count",
    ]
    cols += _stats5("fwd_packet_len") + _stats5("bwd_packet_len")
    cols += _stats5("header_len") + _stats5("fwd_header_len") + _stats5("bwd_header_len")
    cols += _stats5("payload_len")
    cols += ["payload_len_std * payload_len_std"]
    cols += _stats5("fwd_payload_len") + _stats5("bwd_payload_len")
    cols += ["fwd_non_zero_payload_packets", "bwd_non_zero_payload_packets"]
    cols += ["fwd_bulk_rate", "bwd_bulk_rate", "fwd_bulk_packets_count", "bwd_bulk_packets_count"]
    cols += _stats5("fwd_bulk_packets") + _stats5("bwd_bulk_packets")
    cols += _stats5("fwd_bulk_bytes") + _stats5("bwd_bulk_bytes")
    cols += _stats5("fwd_bulk_duration") + _stats5("bwd_bulk_duration")
    cols += ["subflow_count"]
    cols += _stats5("active") + _stats5("idle")
    cols += [
        "icmp_type",
        "icmp_code",
        "icmp_echo_request_count",
        "icmp_echo_reply_count",
        "icmp_error_count",
        "icmp_destination_unreachable_count",
    ]
    for kind in ("retransmission", "duplicate_ack", "zero_window"):
        cols += [
            f"fwd_{kind}_count + bwd_{kind}_count",
            f"fwd_{kind}_count",
            f"bwd_{kind}_count",
        ]
    cols += ["fwd_init_window_size", "bwd_init_window_size"]
    cols += _stats5("window_size") + _stats5("fwd_window_size") + _stats5("bwd_window_size")
    flags = ("fin", "syn", "rst", "psh", "ack", "urg", "cwr", "ece")
    cols += [f"{d}_{n}_flag_count" for d in ("fwd", "bwd") for n in flags]
    cols += [_flag_total(n) for n in flags]
    cols.append("flags")
    subflows = _double("subflow_count")
    cols += [
        _rate_per_s("payload_len_total", dur),
        _rate_per_s(_double("payload_len_count"), dur),
        _rate_per_s("fwd_payload_len_total", dur),
        _rate_per_s(_double("fwd_payload_len_count"), dur),
        _rate_per_s("bwd_payload_len_total", dur),
        _rate_per_s(_double("bwd_payload_len_count"), dur),
        _safe_div(_double("fwd_payload_len_count"), subflows),
        _safe_div("fwd_payload_len_total", subflows),
        _safe_div(_double("bwd_payload_len_count"), subflows),
        _safe_div("bwd_payload_len_total", subflows),
        _safe_div(_double("bwd_payload_len_count"), _double("fwd_payload_len_count")),
    ]
    return _project(flows, cols, names)


SCHEMAS = {
    "basic": basic_schema,
    "cic": cic_schema,
    "cidds": cidds_schema,
    "nf": nf_schema,
    "rustiflow": rustiflow_schema,
}

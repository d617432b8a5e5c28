"""Engine-level pcap ingestion: read_pcap on the executors must equal the
driver-side decoder, and feed sessionize_packets end-to-end."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from rustiflow_spark.config import EngineConfig
from rustiflow_spark.operators.sessionize import sessionize_packets
from rustiflow_spark.sources.pcap import decode_pcap, read_pcap

DATA = "/root/reference/rustiflow/tests/data"

needs_data = pytest.mark.skipif(
    not os.path.exists(DATA), reason=f"reference pcap fixtures not found at {DATA}"
)


@needs_data
def test_read_pcap_matches_local_decode(spark):
    sdf = read_pcap(spark, f"{DATA}/nmap_tcp_syn_version.pcap")
    got = sdf.toPandas().sort_values(["ts_us", "event_seq"]).reset_index(drop=True)
    exp = decode_pcap(f"{DATA}/nmap_tcp_syn_version.pcap")
    assert len(got) == len(exp)
    for col in ("ts_us", "src_ip", "dst_ip", "src_port", "dst_port", "protocol",
                "flags", "length", "data_length", "window_size"):
        assert got[col].tolist() == exp[col].tolist(), col


@needs_data
def test_read_pcap_sessionize_end_to_end(spark):
    cfg = EngineConfig(active_timeout=3600, idle_timeout=120,
                       expiration_check_interval=60)
    flows = sessionize_packets(read_pcap(spark, DATA), cfg).toPandas()
    # both nmap fixtures decoded together: flows from each capture present
    assert len(flows) > 0
    assert (flows["protocol"] == 6).any() and (flows["protocol"] == 17).any()


def _synth_capture(tmp_path, n_packets: int, ns: bool = False) -> str:
    """Deterministic single capture with variable-length TCP/UDP frames."""
    import numpy as np

    from rustiflow_spark.sources.pcap_write import encode_pcap_bytes

    rng = np.random.default_rng(42)
    n = n_packets
    base = 1_700_000_000_000_000
    pdf = pd.DataFrame({
        "ts_us": base + np.cumsum(rng.integers(10, 5000, n)),
        "proto": rng.choice([6, 17], n),
        "v6": np.zeros(n, bool), "vlan": rng.random(n) < 0.2,
        "ext": np.zeros(n, bool),
        "src_ip": np.where(rng.random(n) < 0.5, "10.1.2.3", "10.4.5.6"),
        "dst_ip": "172.16.0.9",
        "src_port": rng.integers(1024, 60000, n), "dst_port": 443,
        "dlen": rng.integers(0, 1400, n),
        "fin": np.zeros(n, int), "syn": (rng.random(n) < 0.05).astype(int),
        "rst": np.zeros(n, int), "psh": (rng.random(n) < 0.4).astype(int),
        "ack": np.ones(n, int), "hdr_opt": 0,
        "seq": rng.integers(0, 2**32, n), "ack_seq": rng.integers(0, 2**32, n),
        "window": rng.integers(0, 65535, n),
        "icmp_type": 0, "icmp_code": 0,
        "inject_frag": rng.random(n) < 0.01, "inject_arp": rng.random(n) < 0.01,
    })
    path = str(tmp_path / "big.pcap")
    with open(path, "wb") as f:
        f.write(encode_pcap_bytes(pdf, ns=ns))
    return path


def test_read_pcap_split_matches_whole_file(spark, tmp_path):
    """Byte-range splits with record-boundary resync must decode exactly the
    whole-file rows (one multi-GB capture then parallelizes instead of
    riding a single >2 GB binaryFile row)."""
    path = _synth_capture(tmp_path, 20_000)
    split = read_pcap(spark, path, split_size=1 << 20)
    assert split.rdd.getNumPartitions() > 1
    whole = read_pcap(spark, path)

    cols = ["ts_us", "src_ip", "dst_ip", "src_port", "dst_port", "protocol",
            "flags", "length", "data_length", "header_length", "window_size",
            "sequence_number", "sequence_number_ack"]
    a = (split.toPandas().sort_values(["ts_us", "event_seq"])
         .reset_index(drop=True)[cols])
    b = (whole.toPandas().sort_values(["ts_us", "event_seq"])
         .reset_index(drop=True)[cols])
    pd.testing.assert_frame_equal(a, b)


def test_resync_finds_boundary_mid_stream(tmp_path):
    """resync_offset locks onto a true record header from an arbitrary
    byte position (scanning across packet payloads)."""
    from rustiflow_spark.sources.pcap import parse_pcap_header, resync_offset

    path = _synth_capture(tmp_path, 500)
    data = open(path, "rb").read()
    endian, ns, _ = parse_pcap_header(data)
    # collect true record offsets
    import struct as st
    true_offs = []
    off = 24
    while off + 16 <= len(data):
        true_offs.append(off)
        incl = st.unpack(endian + "IIII", data[off:off + 16])[2]
        off += 16 + incl
    for probe in (25, 100, len(data) // 3, len(data) // 2 + 7):
        got = resync_offset(data, probe, endian, ns)
        nxt = min(o for o in true_offs if o >= probe)
        assert got == nxt, (probe, got, nxt)


def test_split_inside_header_resyncs_on_ns_capture(tmp_path):
    """A split starting 1-15 bytes into a record header must decode exactly
    the records the whole-file decode has. On a nanosecond capture the
    header read 4 bytes late (frac, incl, orig, first frame bytes) passes
    every field check and chains like the true records unless
    incl_len <= orig_len is enforced."""
    import struct as st

    from rustiflow_spark.sources.pcap import (
        decode_pcap_bytes,
        decode_pcap_split,
        parse_pcap_header,
    )

    path = _synth_capture(tmp_path, 400, ns=True)
    data = open(path, "rb").read()
    endian, ns, link = parse_pcap_header(data)
    assert ns
    offs, fracs = [], []
    off = 24
    while off + 16 <= len(data):
        _, frac, incl, _ = st.unpack(endian + "IIII", data[off:off + 16])
        offs.append(off)
        fracs.append(frac)
        off += 16 + incl
    # a header whose shifted reading has a plausible seconds field (the
    # ns fraction) for a full resync chain
    hdr = next(
        offs[i] for i in range(len(offs) - 8)
        if min(fracs[i:i + 8]) >= 400_000_000
    )
    cols = ["ts_us", "src_ip", "dst_ip", "src_port", "dst_port", "protocol", "length"]

    def rows(pdf):
        return pdf[cols].sort_values(cols).reset_index(drop=True)

    whole = rows(decode_pcap_bytes(data))
    for cut in range(hdr + 1, hdr + 16):
        parts = [
            decode_pcap_split(path, 24, cut, endian, ns, link),
            decode_pcap_split(path, cut, len(data), endian, ns, link),
        ]
        split = rows(pd.concat([p for p in parts if len(p)]))
        pd.testing.assert_frame_equal(split, whole, obj=f"split at {cut - hdr}")


def test_read_pcap_column_pruning(spark, tmp_path):
    """read_pcap(columns=...) pushes the projection into the decoder; the
    pruned frame must equal the full decode's corresponding columns."""
    import numpy as np
    import pandas as pd

    from rustiflow_spark.sources.pcap_write import encode_pcap_bytes

    rng = np.random.default_rng(3)
    n = 500
    pdf = pd.DataFrame({
        "ts_us": 1_700_000_000_000_000 + np.cumsum(rng.integers(10, 3000, n)),
        "proto": rng.choice([6, 17], n),
        "v6": np.zeros(n, bool), "vlan": rng.random(n) < 0.2,
        "ext": np.zeros(n, bool),
        "src_ip": "10.1.2.3", "dst_ip": "172.16.0.9",
        "src_port": rng.integers(1024, 60000, n), "dst_port": 443,
        "dlen": rng.integers(0, 400, n),
        "fin": np.zeros(n, int), "syn": np.zeros(n, int),
        "rst": np.zeros(n, int), "psh": np.ones(n, int),
        "ack": np.ones(n, int), "hdr_opt": 0,
        "seq": rng.integers(0, 2**32, n), "ack_seq": rng.integers(0, 2**32, n),
        "window": rng.integers(0, 65535, n),
        "icmp_type": 0, "icmp_code": 0,
        "inject_frag": np.zeros(n, bool), "inject_arp": np.zeros(n, bool),
    })
    p = str(tmp_path / "prune.pcap")
    with open(p, "rb+" if False else "wb") as f:
        f.write(encode_pcap_bytes(pdf))

    want = ["ts_us", "length", "protocol"]
    for kwargs in ({}, {"split_size": 1 << 16}):
        pruned = read_pcap(spark, p, columns=want, **kwargs)
        assert set(pruned.columns) == set(want) | {"event_seq"}
        full = read_pcap(spark, p, **kwargs).select(*pruned.columns)
        a = pruned.toPandas().sort_values(["ts_us", "event_seq"]).reset_index(drop=True)
        b = full.toPandas().sort_values(["ts_us", "event_seq"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])

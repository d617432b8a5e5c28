"""Engine configuration.

Mirrors the reference's operating knobs (rustiflow/src/args.rs:6-210,
config.toml) re-expressed for a Spark deployment. Timeout semantics are
defined in integer seconds compared with integer-microsecond event time via
truncating division, exactly like the reference
(rustiflow/src/flows/basic_flow.rs:351-370).
"""

from __future__ import annotations

from dataclasses import dataclass, field

US_PER_S = 1_000_000

# Feature-module constants (reference values):
#   active/idle segmentation gap  — features/active_idle_stats.rs:5
#   subflow gap                   — features/subflow_stats.rs:5
#   bulk idle gap + min packets   — features/bulk_stats.rs:5-6
ACTIVE_IDLE_TIMEOUT_US = 5_000_000
SUBFLOW_TIMEOUT_US = 1_000_000
BULK_IDLE_MS = 1000
MIN_BULK_PACKETS = 4

# TCP flag bit positions (packet_features.rs:21-28)
FIN_FLAG = 0b0000_0001
SYN_FLAG = 0b0000_0010
RST_FLAG = 0b0000_0100
PSH_FLAG = 0b0000_1000
ACK_FLAG = 0b0001_0000
URG_FLAG = 0b0010_0000
ECE_FLAG = 0b0100_0000
CWR_FLAG = 0b1000_0000

PROTO_TCP = 6
PROTO_UDP = 17
PROTO_ICMP = 1
PROTO_ICMPV6 = 58

# FlowExpireCause strings (flows/util.rs:157-169)
CAUSE_NONE = "None"
CAUSE_ACTIVE = "Active Timeout"
CAUSE_IDLE = "Idle Timeout"
CAUSE_TCP_TERM = "TCP Normal Termination"
CAUSE_TCP_RESET = "TCP Reset"
CAUSE_SHUTDOWN = "Exporter Shutdown"

# TcpCloseStyle strings (flows/basic_flow.rs:34-46)
CLOSE_NOT_APPLICABLE = "not_applicable"
CLOSE_NONE = "none"
CLOSE_HALF = "half_close"
CLOSE_BIDIRECTIONAL = "bidirectional_fin"
CLOSE_FOUR_WAY = "four_way_fin"
CLOSE_SIMULTANEOUS = "simultaneous_fin"
CLOSE_RESET = "reset"


@dataclass(frozen=True)
class EngineConfig:
    """Session-cut and export configuration.

    Defaults match the reference CLI defaults (args.rs:19-33).

    scan_mode controls how the reference's virtual-time periodic expiry scan
    (flow_table.rs:207-245) is reproduced. The scan only influences the close
    timestamp + cause of sessions whose expiry is never observed by a
    successor packet of the same biflow:

    - "exact":  reproduce scan times exactly from the shard-global event
                timeline (requires collecting the sorted distinct event
                timestamps of the shard domain; fine at test scale, and
                bounded by duration/interval at cluster scale when fed the
                per-interval min-timestamp aggregate).
    - "bucket": approximate the scan times from per-bucket minimum
                timestamps (timeline.scan_times_from_bucket_mins); a scan
                may land up to one bucket (interval / 64) late.
    - "none":   skip the periodic scan. A session whose expiry a later
                packet of the same biflow observes still closes there
                with its Idle/Active Timeout cause. Every session open at
                end of input, expired or not, is exported as "Exporter
                Shutdown" and gets no trailing-idle sample. No timeline
                job runs when a query is built.
    """

    active_timeout: int = 3600
    idle_timeout: int = 120
    early_export: int | None = None
    expiration_check_interval: int = 60
    scan_mode: str = "exact"
    # Early-export snapshot featurization strategy (vectorized kernel only):
    #   "prefix" — O(n) per-session prefix-cumulative arrays (the scale
    #              path: cost is linear in session length, matching the
    #              reference's O(1)-per-snapshot accumulator clone,
    #              flow_table.rs:162-173).
    #   "gather" — O(sum of prefix lengths) gather-expansion (quadratic on
    #              long flows; kept only as the differential-test reference).
    early_export_impl: str = "prefix"

    @property
    def active_timeout_us(self) -> int:
        return self.active_timeout * US_PER_S

    @property
    def idle_timeout_us(self) -> int:
        return self.idle_timeout * US_PER_S

    @property
    def check_interval_us(self) -> int:
        return self.expiration_check_interval * US_PER_S

    # First event-time instant at which a flow with the given first/last
    # packet timestamps tests expired, per the truncating-division rule
    # (basic_flow.rs:361-367): (t - ref)/1e6 > timeout  <=>
    # t >= ref + (timeout+1)*1e6 for non-negative diffs.
    def active_expiry_us(self, first_ts_us: int) -> int:
        return first_ts_us + (self.active_timeout + 1) * US_PER_S

    def idle_expiry_us(self, last_ts_us: int) -> int:
        return last_ts_us + (self.idle_timeout + 1) * US_PER_S


@dataclass(frozen=True)
class TokenPipelineConfig:
    """North-rule token-sequence pipeline configuration."""

    engine: EngineConfig = field(default_factory=EngineConfig)
    # Salting / skew handling
    episode_split: bool = False  # pre-split groups at guaranteed idle cuts
    shuffle_partitions: int | None = None

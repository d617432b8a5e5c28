"""The three workloads: how each builds its input, drives the program, and
checks the program's output.

Every call into the program goes through a module attribute
(``pcap.read_pcap``, ``sessionize.sessionize_packets``, ...) so that the
traced run can wrap those attributes in spans without touching the
program.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import gen
import oracle

# input sizes: "full" for the benchmark, "tiny" for the self-test and the
# warm-up of the traced run's local[1] session
SIZES = {
    "pcap_cic": {"full": 6_000, "tiny": 60},  # conversations
    "session_hotkey": {"full": 1_000_000, "tiny": 3_000},  # events
    "stream_flows": {"full": 600, "tiny": 40},  # conversations
}
STREAM_FILES = {"full": 3, "tiny": 2}  # one micro-batch per file
STREAM_TIMEOUT_S = 150


def engine_cfg():
    from rustiflow_spark.config import EngineConfig

    # reference defaults (active 3600 s, idle 120 s); no periodic expiry
    # scan, so a session's close follows from the packets alone
    return EngineConfig(scan_mode="none")


def _count_obs(df):
    """Attach a row counter; returns (frame, observation)."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


class Workload:
    name = ""
    check_cols: list[str] = []  # oracle columns the check compares
    check_exprs: dict[str, str] = {}  # result expression per column, if renamed

    def __init__(self, work: str, seed: int, scale: str) -> None:
        self.work, self.seed, self.scale = work, seed, scale
        self.size = SIZES[self.name][scale]
        self.dir = os.path.join(work, "inputs", f"{self.name}-{scale}-{self.size}-{seed}")
        self.props: dict = {}
        self.span = None  # the traced run sets a span factory here

    def _span(self, name: str):
        return self.span(name) if self.span else contextlib.nullcontext()

    def generate(self) -> dict:
        raise NotImplementedError

    def frame(self, spark):
        """The workload's result DataFrame (lazy)."""
        raise NotImplementedError

    def expected_sql(self) -> str:
        raise NotImplementedError

    def check_select(self) -> list[str]:
        """SQL expressions that map the result onto the oracle's columns."""
        return [
            f"CAST({self.check_exprs.get(c, c)} AS "
            f"{'STRING' if c in oracle.STRING_COLS else 'BIGINT'}) AS {c}"
            for c in self.check_cols
        ]

    def run(self, spark) -> int:
        """One full materialisation to the noop sink; returns rows out."""
        df, obs = _count_obs(self.frame(spark))
        with self._span("sink.noop"):
            df.write.format("noop").mode("overwrite").save()
        return int(obs.get["n"])

    def write_check_output(self, spark) -> str:
        """Materialise the result's checked columns to parquet."""
        out = os.path.join(self.work, "check", self.name)
        shutil.rmtree(out, ignore_errors=True)
        self.frame(spark).selectExpr(*self.check_select()).write.parquet(out)
        return out

    def compare(self, out: str) -> dict:
        """Compare written output with the oracle."""
        res = oracle.compare(self.expected_sql(), f"{out}/*.parquet", self.check_cols)
        res["output"] = out
        return res


class PcapCic(Workload):
    """Captures -> read_pcap (one task per capture) -> sessionize_packets ->
    cic_schema.

    Whole-file mode, the CLI default: byte-range split mode mis-resyncs
    on some of these captures (see layers.split_mismatch_rows), so the
    traced run measures that defect instead of the timed runs failing."""

    name = "pcap_cic"
    check_cols, check_exprs = oracle.FLOW_CHECK_COLS, oracle.CIC_CHECK_EXPRS

    def generate(self) -> dict:
        self.props = gen.make_pcap_cic(self.dir, self.seed, self.size, workers=4)
        return self.props

    def flows(self, spark):
        from rustiflow_spark.operators import sessionize
        from rustiflow_spark.sources import pcap

        df = pcap.read_pcap(spark, os.path.join(self.dir, "pcap"))
        return sessionize.sessionize_packets(df, engine_cfg())

    def frame(self, spark):
        from rustiflow_spark.flows import schemas

        return schemas.cic_schema(self.flows(spark))

    def expected_sql(self) -> str:
        return oracle.expected_flows_sql(os.path.join(self.dir, "truth.parquet"))



class SessionHotkey(Workload):
    """Token table -> sessionize_events(["source", "doc_id"]), default
    strategy, flush time from the parquet footers as the CLI does."""

    name = "session_hotkey"
    check_cols = oracle.EVENT_CHECK_COLS

    def generate(self) -> dict:
        self.props = gen.make_session_hotkey(self.dir, self.seed, self.size)
        return self.props

    def frame(self, spark):
        from rustiflow_spark.operators import event_features
        from rustiflow_spark.sources.tables import parquet_column_max

        path = os.path.join(self.dir, "events")
        return event_features.sessionize_events(
            spark.read.parquet(path), ["source", "doc_id"], engine_cfg(),
            flush_ts=parquet_column_max(path, "ts_us"),
        )

    def expected_sql(self) -> str:
        return oracle.expected_events_sql(os.path.join(self.dir, "events", "*.parquet"))



class StreamFlows(Workload):
    """Time-ordered parquet files replayed through
    sessionize_packets_stream (availableNow, one file per micro-batch)."""

    name = "stream_flows"
    check_cols, check_exprs = oracle.STREAM_CHECK_COLS, oracle.SUPERSET_CHECK_EXPRS

    def __init__(self, work: str, seed: int, scale: str) -> None:
        super().__init__(work, seed, scale)
        self._ckpt = 0
        self.progress: list[dict] = []

    def generate(self) -> dict:
        self.props = gen.make_stream_flows(self.dir, self.seed, self.size, STREAM_FILES[self.scale])
        return self.props

    def frame(self, spark):
        from rustiflow_spark.schema import PACKET_EVENT_SCHEMA
        from rustiflow_spark.streaming import sessionize_stream

        stream = (
            spark.readStream.schema(PACKET_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.dir, "src"))
        )
        return sessionize_stream.sessionize_packets_stream(stream, engine_cfg())

    def _start(self, df, fmt: str, path: str | None = None):
        self._ckpt += 1
        ckpt = os.path.join(self.work, "ckpt", f"{self.name}-{self._ckpt}")
        shutil.rmtree(ckpt, ignore_errors=True)
        w = df.writeStream.format(fmt).option("checkpointLocation", ckpt)
        if path is not None:
            w = w.option("path", path)
        q = w.trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                raise TimeoutError(f"stream did not finish in {STREAM_TIMEOUT_S} s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)

    def run(self, spark) -> int:
        from pyspark.sql import functions as F

        df = self.frame(spark).observe("rows", F.count(F.lit(1)).alias("n"))
        with self._span("sink.noop"):
            self._start(df, "noop")
        return sum(int(p["observedMetrics"].get("rows", {}).get("n", 0))
                   for p in self.progress if p.get("observedMetrics"))

    def write_check_output(self, spark) -> str:
        out = os.path.join(self.work, "check", self.name)
        shutil.rmtree(out, ignore_errors=True)
        self._start(self.frame(spark).selectExpr(*self.check_select()), "parquet", out)
        return out

    def expected_sql(self) -> str:
        return oracle.expected_stream_sql(os.path.join(self.dir, "truth.parquet"))



WORKLOADS = {w.name: w for w in (PcapCic, SessionHotkey, StreamFlows)}

"""Listener-driven metrics collection.

Reference parity: consolidated status every poll (runner.go:925-1108), rich
metric structs incl. throughput and latency percentiles
(internal/dashboard/server.go:46-242). Here metrics come from
StreamingQueryListener progress events: numInputRows,
inputRowsPerSecond, processedRowsPerSecond, batch durations, state rows.

Backpressure status (dashboard/metrics.go:320 hardcodes "OK" in the
reference) is computed honestly: input rate persistently above processing
rate → "BACKPRESSURED".
"""

from __future__ import annotations

import statistics
import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class QueryMetrics:
    query_id: str = ""
    name: str = ""
    batches: int = 0
    input_rows: int = 0
    input_rps: list[float] = field(default_factory=list)
    processed_rps: list[float] = field(default_factory=list)
    batch_duration_ms: list[float] = field(default_factory=list)
    state_rows: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def backpressure(self) -> str:
        if len(self.input_rps) < 3:
            return "OK"
        recent_in = statistics.fmean(self.input_rps[-3:])
        recent_proc = statistics.fmean(self.processed_rps[-3:])
        return "BACKPRESSURED" if recent_in > recent_proc * 1.2 else "OK"

    def percentile_duration(self, q: float) -> float:
        if not self.batch_duration_ms:
            return 0.0
        xs = sorted(self.batch_duration_ms)
        idx = min(len(xs) - 1, int(q * len(xs)))
        return xs[idx]

    def summary(self) -> dict:
        return {
            "query": self.name or self.query_id,
            "batches": self.batches,
            "input_rows": self.input_rows,
            "avg_input_rps": round(statistics.fmean(self.input_rps), 2)
            if self.input_rps
            else 0.0,
            "avg_processed_rps": round(
                statistics.fmean(self.processed_rps), 2
            )
            if self.processed_rps
            else 0.0,
            "p50_batch_ms": self.percentile_duration(0.50),
            "p95_batch_ms": self.percentile_duration(0.95),
            "p99_batch_ms": self.percentile_duration(0.99),
            "state_rows": self.state_rows,
            "backpressure": self.backpressure,
            "errors": self.errors,
        }


class MetricsCollector(StreamingQueryListener):
    """Attach with spark.streams.addListener(collector)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.queries: dict[str, QueryMetrics] = {}

    def _get(self, qid: str) -> QueryMetrics:
        with self._lock:
            return self.queries.setdefault(qid, QueryMetrics(query_id=qid))

    # --- listener callbacks ---------------------------------------------------

    def onQueryStarted(self, event) -> None:
        m = self._get(str(event.id))
        m.name = event.name or ""

    def onQueryProgress(self, event) -> None:
        p = event.progress
        m = self._get(str(p.id))
        m.batches += 1
        m.input_rows += int(p.numInputRows or 0)
        if p.inputRowsPerSecond is not None:
            m.input_rps.append(float(p.inputRowsPerSecond))
        if p.processedRowsPerSecond is not None:
            m.processed_rps.append(float(p.processedRowsPerSecond))
        dur = p.durationMs or {}
        total = dur.get("triggerExecution")
        if total is not None:
            m.batch_duration_ms.append(float(total))
        state_rows = 0
        for so in p.stateOperators or []:
            try:
                state_rows += int(so.numRowsTotal)
            except (TypeError, AttributeError):
                pass
        m.state_rows = state_rows

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            m = self.queries.get(str(event.id))
        if m is None:  # a query this collector never saw run
            return
        if event.exception:
            m.errors.append(str(event.exception))

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def summaries(self) -> list[dict]:
        with self._lock:
            return [m.summary() for m in self.queries.values()]


# --- B19: wire-path fallback monitor ------------------------------------------------


def check_processing_activity(
    host: str,
    port: int,
    consumer_groups: list[str],
    output_topic: str,
    partitions: list[int] | None = None,
) -> dict:
    """The reference's fallback monitor over the ACTUAL wire protocol.

    Mirrors `alternative_monitor.go:77-107` (checkProcessingActivity):
    approach 1 reads consumer-group lag — the reference shells to
    `kafka-consumer-groups.sh --describe` and parses the LAG column
    (alternative_monitor.go:124-150); here the same number comes from
    the protocol APIs that tool itself speaks (OffsetFetch committed vs
    ListOffsets LATEST, `KafkaWireClient.consumer_group_lag`) — lag 0
    means every produced record was consumed, i.e. processing finished.
    Approach 2 checks output-topic growth (log-end offset > 0, the
    record-count half of checkOutputTopicGrowth; byte sizes are a
    broker-filesystem detail this path doesn't model). The returned
    dict carries the reference's MonitoringResult fields."""
    from pipegen_spark.sources.kafka_wire import (
        ERR_NONE,
        TS_LATEST,
        KafkaWireClient,
    )

    if partitions is None:
        partitions = [0]
    result = {
        "consumer_group_lag": -1,
        "output_topic_records": 0,
        "processing_detected": False,
        "monitoring_method": "",
        "details": "",
    }
    client = KafkaWireClient(host, port, client_id="pipegen-monitor")
    try:
        # Approach 1: consumer group lag (lag 0 == all input consumed)
        if consumer_groups:
            group = consumer_groups[0]
            err, _node, _h, _p = client.find_coordinator(group)
            if err == ERR_NONE:
                lags = client.consumer_group_lag(
                    group, output_topic, partitions
                )
                if lags:
                    total = sum(lags.values())
                    result["consumer_group_lag"] = total
                    if total == 0:
                        result["processing_detected"] = True
                        result["monitoring_method"] = "Consumer Group Lag"
                        result["details"] = (
                            "processed all input data "
                            f"(consumer group lag: {total})"
                        )
                        return result
        # Approach 2: output topic growth
        records = 0
        for p in partitions:
            err, ends = client.list_offsets(output_topic, p, TS_LATEST)
            if err == ERR_NONE and ends:
                records += ends[0]
        result["output_topic_records"] = records
        if records > 0:
            result["processing_detected"] = True
            result["monitoring_method"] = "Output Topic Growth"
            result["details"] = f"output topic has ~{records} records"
        else:
            result["details"] = "no processing detected yet"
        return result
    finally:
        client.close()

"""Agentic investigation loop — deterministic core (SURVEY §2.10 L1-L8).

Reference: tools/agentic_loop/investigation_agent.py (1,424 LoC). The
LLM call itself is an external service; everything around it is
deterministic and is what this module re-expresses Spark-first:

- L2 metric extraction + event formatting (:528-741):
  ``extract_metrics`` is five declarative DataFrame derivations (the
  reference loops rows in Python); ``format_events_for_llm`` aggregates
  distributed (counts, time range) and collects only the bounded heads
  (top-20 display, 5-per-metric examples) before string assembly.
- L4 confidence heuristics (:862-903): ``adjust_confidence`` is a pure
  function over (hypothesis, reasoning, events_text, confidence).
- L6 context budget (:239-240): ``LLM_CONTEXT_CHAR_LIMIT`` /
  ``ADDITIONAL_DATA_MAX_ITEMS`` enforced by ``truncate_context`` /
  ``cap_items``.
- L1/L3/L5 loop skeleton (:242-527): ``InvestigationAgent.investigate``
  iterates format -> llm -> adjust -> (optional tool calls) until the
  confidence threshold or max_iterations; the LLM is an injectable
  callable so the loop is fully testable offline.

Documented deviations from the reference (kept deliberately):
- the reference's display sort key ``-(sev) if sev>=40 else -1000``
  ascending actually puts sub-40 events FIRST (the -1000 sentinel sorts
  before any -sev); we mirror that observable behavior exactly;
- map-field display order: Python dicts preserve insertion order, Spark
  maps don't guarantee one, so displayed fields are key-sorted;
- ties in the display sort break on event_id (the reference relies on
  stable list order, which a distributed sort does not have).
"""

from __future__ import annotations

import json
import time as _time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.trace_logs import py_float

# reference: investigation_agent.py:239-240
LLM_CONTEXT_CHAR_LIMIT = 120_000
ADDITIONAL_DATA_MAX_ITEMS = 20

_LAG_KEYS = ["VersionLag", "versionLag", "VersionLagValue", "Lag", "lag"]


# ---------------------------------------------------------------------------
# L2 — metric extraction (declarative)
# ---------------------------------------------------------------------------


def extract_metrics(events: DataFrame) -> dict[str, DataFrame]:
    """Reference :528-605 as five DataFrame derivations. Each output is
    unmaterialized; the formatter takes bounded heads."""
    # Known + MEASURED codegen disposition (r11): when `fields` is a
    # synthetic map expression (the oracle fixtures build one),
    # predicate pushdown substitutes it into the >100k filter ~20 times
    # (py_float references its argument several times, across 5 keys),
    # the generated method passes Janino's 64 KB limit, and the stage
    # falls back to interpreted eval with an ERROR CodeGenerator log
    # line. That fallback is HARMLESS here and faster than the "fix":
    # a higher-order rewrite (transform/filter/get, `fields` referenced
    # once) compiles — and ran 5.5x SLOWER at sf100r (29.3 s vs 5.3 s,
    # bench_data/registry_sf100r_r11.jsonl) because it materializes two
    # arrays per row and evaluates all five parses eagerly, while
    # coalesce short-circuits and the interpreted filter is pushed all
    # the way into the scan. On a real ingest table `fields` is a
    # stored column and the expression is small anyway. Keep coalesce.
    lag = F.coalesce(*[py_float(F.element_at("fields", F.lit(k))) for k in _LAG_KEYS])
    with_lag = events.withColumn("version_lag", lag)

    version_lag_spikes = with_lag.filter(F.col("version_lag") > 100_000).select(
        "event_id", "ts", F.col("event").alias("event_type"),
        "version_lag", "role", "severity",
    )
    high_lag_timestamps = with_lag.filter(F.col("version_lag") > 1_000_000).select(
        "event_id", "ts"
    )

    kv = events.select(
        "event_id", "ts", F.col("event").alias("event_type"), "role",
        F.explode(F.map_entries("fields")).alias("e"),
    ).select(
        "event_id", "ts", "event_type", "role",
        F.col("e.key").alias("metric"), py_float(F.col("e.value")).alias("val"),
        F.lower(F.col("e.key")).alias("__kl"), F.col("e.value").alias("__raw"),
    )
    negative_latencies = kv.filter(
        (
            F.col("__kl").contains("latency")
            | F.col("__kl").contains("min")
            | F.col("__kl").contains("max")
        )
        & F.col("val").isNotNull()
        & (F.col("val") < 0)
    ).select("event_id", "ts", "event_type", "metric", F.col("val").alias("value"), "role")

    slow_ss_loops = events.filter(F.col("event").contains("SlowSS")).select(
        "event_id", "ts", F.col("event").alias("event_type"), "severity", "fields"
    )

    throttling_reasons = kv.filter(
        (
            F.col("event_type").contains("RkUpdate")
            | F.col("event_type").contains("Ratekeeper")
        )
        & (F.col("__kl").contains("throttle") | F.col("__kl").contains("reason"))
    ).select(
        "event_id", "ts", "event_type",
        F.concat(F.col("metric"), F.lit(": "), F.col("__raw")).alias("reason"),
    )

    return {
        "version_lag_spikes": version_lag_spikes,
        "negative_latencies": negative_latencies,
        "slow_ss_loops": slow_ss_loops,
        "throttling_reasons": throttling_reasons,
        "high_lag_timestamps": high_lag_timestamps,
    }


# ---------------------------------------------------------------------------
# L2 — event formatting
# ---------------------------------------------------------------------------


def _iso(ts) -> str:
    return ts.isoformat() if ts is not None else "N/A"


def format_events_for_llm(events: DataFrame, display_limit: int = 20) -> str:
    """Reference :608-741. Counts/time-range are one distributed agg;
    only bounded heads are collected. Returns the exact report text shape
    the reference feeds the LLM."""
    stats = events.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.coalesce(F.col("severity"), F.lit(0)) >= 40).alias("n40"),
        F.count_if(F.coalesce(F.col("severity"), F.lit(0)) == 30).alias("n30"),
        F.count_if(F.coalesce(F.col("severity"), F.lit(0)) == 20).alias("n20"),
        F.min("ts").alias("earliest"),
        F.max("ts").alias("latest"),
    ).collect()[0]
    if stats["total"] == 0:
        return "No events found."

    m = extract_metrics(events)
    # Counts come from distributed aggregates (like n_negs/n_slows below)
    # so they never saturate at a collect() limit; only the handful of
    # display examples is ever collected.
    spk = m["version_lag_spikes"]
    n_spikes = spk.count()
    n_crit = spk.filter(F.col("version_lag") > 1_000_000).count()
    shown_src = spk.filter(F.col("version_lag") > 1_000_000) if n_crit else spk
    shown = shown_src.orderBy("ts", "event_id").limit(5).collect()
    negs = m["negative_latencies"].orderBy("ts", "event_id", "metric").limit(5).collect()
    n_negs = m["negative_latencies"].count()
    slows = m["slow_ss_loops"].orderBy("ts", "event_id").limit(3).collect()
    n_slows = m["slow_ss_loops"].count()
    throts = m["throttling_reasons"].orderBy("ts", "event_id", "reason").limit(5).collect()
    n_throts = m["throttling_reasons"].count()

    sev = F.coalesce(F.col("severity"), F.lit(0))
    sort_key = F.when(sev >= 40, -sev).otherwise(F.lit(-1000))
    display = (
        events.withColumn("__k", sort_key)
        .orderBy("__k", F.col("ts").asc_nulls_last(), "event_id")
        .limit(display_limit)
        .collect()
    )

    lines: list[str] = []
    lines.append(f"Found {stats['total']} events:")
    lines.append(f"  - Severity 40+ (Errors): {stats['n40']}")
    lines.append(f"  - Severity 30 (Info): {stats['n30']}")
    lines.append(f"  - Severity 20 (Warnings): {stats['n20']}")
    lines.append("")
    lines.append("=" * 70)
    lines.append("CRITICAL: PRIORITIZE METRICS OVER EVENT SEVERITY")
    lines.append("=" * 70)
    lines.append("")
    lines.append("METRICS ARE MORE IMPORTANT THAN EVENT SEVERITY!")
    lines.append("   - VersionLag spikes (>100k, especially >1M) indicate storage pressure")
    lines.append("   - Negative latencies indicate timing bugs/overflows")
    lines.append("   - Throttling reasons show performance degradation")
    lines.append("   - SlowSSLoop indicates storage server performance issues")
    lines.append("")
    lines.append("Do NOT treat Severity 20/30 events as root cause by themselves")
    lines.append("   Focus on the METRIC anomalies behind them.\n")

    if n_spikes:
        lines.append("VERSIONLAG SPIKES (Storage Engine Pressure):")
        lines.append(f"   Found {n_spikes} events with VersionLag > 100k")
        if n_crit:
            lines.append(f"   {n_crit} events with VersionLag > 1M (CRITICAL)")
        for r in shown[:5]:
            lines.append(
                f"      - {_iso(r['ts'])}: VersionLag={r['version_lag']:.0f} "
                f"(event: {r['event_type']})"
            )
        lines.append("")
    if n_negs:
        lines.append("NEGATIVE LATENCIES (Timing Bug/Overflow):")
        lines.append(f"   Found {n_negs} negative latency values")
        for r in negs:
            lines.append(
                f"      - {_iso(r['ts'])}: {r['metric']}={r['value']} "
                f"(event: {r['event_type']})"
            )
        lines.append("")
    if n_slows:
        lines.append("SLOW SS LOOPS (Storage Server Performance):")
        lines.append(f"   Found {n_slows} SlowSSLoop events")
        for r in slows:
            lines.append(f"      - {_iso(r['ts'])}: {r['event_type']}")
        lines.append("")
    if n_throts:
        lines.append("THROTTLING DETECTED (Performance Degradation):")
        lines.append(f"   Found {n_throts} throttling events")
        for r in throts:
            lines.append(f"      - {_iso(r['ts'])}: {r['reason']}")
        lines.append("")

    lines.append("=" * 70)
    lines.append("EVENT DETAILS (context; metrics above are higher-signal)")
    lines.append("=" * 70)
    lines.append("")
    if stats["earliest"] is not None:
        span = (stats["latest"] - stats["earliest"]).total_seconds()
        lines.append(
            f"Time range: {stats['earliest'].isoformat()} to "
            f"{stats['latest'].isoformat()} ({span:.1f} seconds)\n"
        )
    lines.append(f"Top {len(display)} events:\n")
    for i, ev in enumerate(display, 1):
        s = ev["severity"] or 0
        indicator = " CRITICAL ERROR" if s >= 40 else (" WARNING" if s == 20 else "")
        fields = dict(sorted((ev["fields"] or {}).items()))
        if len(fields) <= 5:
            fields_str = json.dumps(fields, indent=2)
        else:
            top = dict(list(fields.items())[:5])
            fields_str = json.dumps(top, indent=2) + "\n    ... (truncated)"
        level = "ERROR" if s >= 40 else ("WARNING" if s == 20 else "INFO")
        lines.append(
            f"\nEvent {i}{indicator}:\n"
            f"  Timestamp: {_iso(ev['ts'])}\n"
            f"  Event Type: {ev['event']}\n"
            f"  Severity: {ev['severity']} ({level})\n"
            f"  Role: {ev['role'] or 'N/A'}\n"
            f"  Fields:\n{fields_str}\n"
        )
    if stats["total"] > len(display):
        lines.append(f"\n... and {stats['total'] - len(display)} more events")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# L4 — confidence heuristics (pure)
# ---------------------------------------------------------------------------

_METRIC_FOCUS = [
    "versionlag", "version_lag", "lag", "latency", "throttle", "throttl",
    "slowss", "metric", "storage pressure", "performance", "degradation",
]
_EVENT_NAME_FOCUS = [
    "fkreenablelb", "file not found", "severity 30", "severity 20", "informational",
]
_METRIC_ANOMALY_MARKERS = [
    "versionlag spike", "negative latenc", "slowssloop", "throttling", ">100k", ">1m",
]


def adjust_confidence(
    hypothesis: str, reasoning: str, events_text: str, confidence: float
) -> tuple[float, str]:
    """Reference :862-903 verbatim logic: cap confidence when the
    hypothesis chases event names while metric anomalies exist; boost
    (capped at 1.0) when it correctly focuses on metrics."""
    blob = (hypothesis + reasoning).lower()
    has_metric_focus = any(k in blob for k in _METRIC_FOCUS)
    event_name_focus = any(k in hypothesis.lower() for k in _EVENT_NAME_FOCUS)
    has_metric_anomalies = any(k in events_text.lower() for k in _METRIC_ANOMALY_MARKERS)

    if event_name_focus and not has_metric_focus and has_metric_anomalies:
        return min(confidence, 0.4), (
            "[Confidence reduced: Metrics detected but hypothesis focuses on "
            "event names. Metrics are more important than event severity.] " + reasoning
        )
    if event_name_focus and not has_metric_focus:
        return min(confidence, 0.5), (
            "[Confidence adjusted: Hypothesis focuses on event names rather "
            "than metrics] " + reasoning
        )
    if has_metric_focus and has_metric_anomalies:
        return min(confidence + 0.1, 1.0), (
            "[Confidence boosted: Hypothesis correctly focuses on metrics] " + reasoning
        )
    return confidence, reasoning


# ---------------------------------------------------------------------------
# L6 — context budget (pure)
# ---------------------------------------------------------------------------


def truncate_context(text: str, limit: int = LLM_CONTEXT_CHAR_LIMIT) -> str:
    """Hard character budget on the LLM context (reference :239)."""
    if len(text) <= limit:
        return text
    marker = "\n... [truncated to context limit]"
    return text[: limit - len(marker)] + marker


def cap_items(items: list, limit: int = ADDITIONAL_DATA_MAX_ITEMS) -> list:
    """Additional-data item cap (reference :240)."""
    return items[:limit]


# ---------------------------------------------------------------------------
# L1/L3/L5 — loop skeleton with injectable LLM
# ---------------------------------------------------------------------------


@dataclass
class InvestigationResult:
    hypothesis: str
    confidence: float
    reasoning: str
    tools_used: list = field(default_factory=list)
    iterations: int = 0
    # (bucket_seconds, bucket_start_epoch) pairs in inspection order: 300s
    # entries are phase-A heatmap glances, 10s entries are hotspot dives.
    # Granularity is part of the coordinate — the same epoch int can appear
    # once per granularity without being a re-inspection.
    inspected_buckets: list = field(default_factory=list)


class InvestigationAgent:
    """Iterative investigate loop: format -> llm -> adjust -> tools.

    ``llm(prompt: dict) -> dict`` is injectable (keys: events_text,
    question, hypothesis, confidence; returns hypothesis/confidence/
    reasoning/suggested_tools). ``tools`` maps tool names to callables
    ``tool(events: DataFrame) -> DataFrame`` whose bounded summary is
    appended to the next iteration's context."""

    def __init__(
        self,
        llm,
        tools: dict | None = None,
        max_iterations: int = 10,
        confidence_threshold: float = 0.8,
    ):
        self.llm = llm
        self.tools = tools or {}
        self.max_iterations = max_iterations
        self.confidence_threshold = confidence_threshold

    def investigate(self, events: DataFrame, question: str) -> InvestigationResult:
        events_text = truncate_context(format_events_for_llm(events))
        hypothesis, confidence, reasoning = "", 0.0, ""
        tools_used: list[str] = []
        iterations = 0
        extra = ""

        for _ in range(self.max_iterations):
            iterations += 1
            out = self.llm(
                {
                    "events_text": truncate_context(events_text + extra),
                    "question": question,
                    "hypothesis": hypothesis,
                    "confidence": confidence,
                }
            )
            hypothesis = out.get("hypothesis", "")
            confidence = float(out.get("confidence", 0.0))
            reasoning = out.get("reasoning", "")
            confidence, reasoning = adjust_confidence(
                hypothesis, reasoning, events_text, confidence
            )
            if confidence >= self.confidence_threshold:
                break
            for name in cap_items(out.get("suggested_tools", [])):
                fn = self.tools.get(name)
                if fn is None or name in tools_used:
                    continue
                tools_used.append(name)
                head = fn(events).limit(ADDITIONAL_DATA_MAX_ITEMS).collect()
                extra += f"\n\n[{name}] " + json.dumps(
                    [r.asDict(recursive=True) for r in head], default=str
                )
        return InvestigationResult(
            hypothesis=hypothesis,
            confidence=confidence,
            reasoning=reasoning,
            tools_used=tools_used,
            iterations=iterations,
        )


# ---------------------------------------------------------------------------
# L3 — LLM response contract: fence stripping, parsing, quota retry
# ---------------------------------------------------------------------------

_RESPONSE_DEFAULTS = {
    "hypothesis": "",
    "confidence": 0.0,
    "reasoning": "",
    "suggested_tools": [],
    "next_steps": "",
}

_QUOTA_MARKERS = ["quota", "rate limit", "429", "resource has been exhausted"]


def parse_llm_response(text: str) -> dict:
    """Reference :817-833: strip a ```json / ``` fence if present, parse,
    and normalize to the fixed schema {hypothesis, confidence, reasoning,
    suggested_tools, next_steps}. Raises ValueError on unparseable text
    (the retry wrapper decides what to do with that)."""
    t = text.strip()
    if "```json" in t:
        start = t.find("```json") + 7
        t = t[start : t.find("```", start)].strip()
    elif "```" in t:
        start = t.find("```") + 3
        t = t[start : t.find("```", start)].strip()
    try:
        raw = json.loads(t)
    except json.JSONDecodeError as e:
        raise ValueError(f"unparseable LLM response: {e}") from e
    if not isinstance(raw, dict):
        raise ValueError("LLM response is not a JSON object")
    out = dict(_RESPONSE_DEFAULTS)
    out.update({k: raw[k] for k in _RESPONSE_DEFAULTS if k in raw})
    out["confidence"] = float(out["confidence"])
    return out


def is_quota_error(exc: Exception) -> bool:
    s = str(exc).lower()
    return any(m in s for m in _QUOTA_MARKERS) or (
        "exceeded" in s and "quota" in s
    )


def call_llm_with_retry(
    call,
    *,
    max_retries: int = 3,
    retry_delay: float = 10.0,
    sleep=_time.sleep,
) -> dict:
    """Reference :807-860: up to ``max_retries`` attempts with exponential
    backoff on quota-ish errors; after exhaustion, return the reference's
    fixed quota-exceeded result instead of raising. Non-quota errors
    propagate. ``call() -> str`` returns raw LLM text; ``sleep`` is
    injectable so tests replay the backoff schedule deterministically."""
    last: Exception | None = None
    for attempt in range(max_retries):
        try:
            return parse_llm_response(call())
        except Exception as e:  # noqa: BLE001 — mirror the reference's net
            if not is_quota_error(e):
                raise
            last = e
            if attempt < max_retries - 1:
                sleep(retry_delay * (2**attempt))
    return {
        "hypothesis": (
            "API Quota Exceeded: Unable to complete LLM analysis due to "
            "quota limits."
        ),
        "confidence": 0.0,
        "reasoning": str(last)[:200],
        "suggested_tools": [],
        "next_steps": "Check quota/billing and retry later.",
    }


# ---------------------------------------------------------------------------
# L5 — RAG query formatting (retrieval itself is injectable)
# ---------------------------------------------------------------------------


def build_rag_query(
    detectors: dict | None,
    timeline: dict | None = None,
    timeline_builder: dict | None = None,
) -> str:
    """Reference tools/rag/query_formatter.py:5-27 — deterministic query
    text from detector results + timeline evidence; no LLM involved."""
    lines = ["Detected problems and evidence:"]
    for name, result in (detectors or {}).items():
        if isinstance(result, dict) and result.get("detected"):
            lines.append(f"- {name}: {result}")
    if timeline:
        lines.append("\nTimeline highlights:")
        for key, value in timeline.items():
            lines.append(f"- {key}: {value}")
    if timeline_builder:
        lines.append("\nChronological story (timeline builder):")
        if timeline_builder.get("first_anomaly"):
            lines.append(f"- First anomaly: {timeline_builder['first_anomaly']}")
        for item in timeline_builder.get("timeline", []):
            lines.append(f"- {item}")
        if timeline_builder.get("root_cause_signal"):
            lines.append(
                f"- Root cause signal: {timeline_builder.get('root_cause_signal')}"
            )
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# L8 — LLM I/O persistence
# ---------------------------------------------------------------------------


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


def write_llm_input(
    prompt_text: str,
    output_dir: str = "data",
    prefix: str = "llm_input",
    now=_utcnow,
) -> str | None:
    """Reference tools/agentic_loop/llm_input_logger.py:7-17 — persist the
    prompt to a timestamped file; ``now`` is injectable for determinism."""
    if not prompt_text:
        return None
    ts = now().strftime("%Y%m%dT%H%M%SZ")
    Path(output_dir).mkdir(parents=True, exist_ok=True)
    path = Path(output_dir) / f"{prefix}_{ts}.txt"
    path.write_text(prompt_text)
    return str(path)


def write_llm_output(
    output_text: str,
    output_dir: str = "data",
    prefix: str = "llm_output",
    now=_utcnow,
) -> str | None:
    """Reference llm_input_logger.py:20-28."""
    return write_llm_input(output_text, output_dir, prefix, now)


# ---------------------------------------------------------------------------
# L1 — phased investigation loop (reference :926-1327)
# ---------------------------------------------------------------------------


class PhasedInvestigationAgent:
    """The reference's full phased loop, Spark-first and LLM-injectable.

    Phase A (first iteration): global sweep — top events, severity counts,
    event histogram, time span, bucket heatmap, global summary, rollback
    analysis, metric baselines, recovery episodes — all via this engine's
    operators; no LLM call (reference :983-1091 defers it).

    Phase B/C iterations (reference :1100-1315): global detectors →
    timeline build → RAG retrieval → gated LLM analysis (call budget,
    context-dirty skip) → confidence adjustment (L4) → z-score-guided
    hotspot dive via context windows → stop when confidence ≥ threshold
    and a hotspot was inspected (or coverage is complete).

    ``llm(prompt_text: str) -> str`` returns raw LLM text (parsed by L3);
    ``rag(query: str) -> str | None`` is the optional retriever. Both are
    plain callables so the whole loop is deterministic offline.
    """

    def __init__(
        self,
        llm,
        rag=None,
        max_iterations: int = 10,
        max_llm_calls: int = 4,
        confidence_threshold: float = 0.8,
        io_log_dir: str | None = None,
        now=_utcnow,
        sleep=_time.sleep,
    ):
        self.llm = llm
        self.rag = rag
        self.max_iterations = max_iterations
        self.max_llm_calls = max_llm_calls
        self.confidence_threshold = confidence_threshold
        self.io_log_dir = io_log_dir
        self.now = now
        self.sleep = sleep

    @staticmethod
    def _summary_dict(det: dict) -> dict:
        """Collect a detector's 1-row summary frame into a plain dict."""
        row = det["summary"].collect()
        return dict(row[0].asDict()) if row else {}

    def investigate(
        self, events: DataFrame, question: str, baselines: DataFrame | None = None
    ):
        from ..detectors import detectors as D
        from ..operators.windows import released_checkpoints
        from ..sources.trace_logs import derive_event_metrics
        from . import tools as T
        from .knowledge_base import knowledge_base_text
        from .timeline import build_timeline

        hypothesis, confidence, reasoning = "", 0.0, ""
        tools_used: list[str] = []
        additional: list[tuple[str, object]] = []
        # Bucket coverage is tracked PER GRANULARITY — a 300s heatmap epoch
        # and a 10s dive epoch are different coordinates even when the ints
        # collide. glanced_300: phase-A heatmap rows (no events pulled — a
        # glance, so it never blocks a dive). dived_10: 10s buckets whose
        # events were actually context-windowed. exhausted_300: hotspots
        # whose every eventful 10s sub-bucket has been dived.
        glanced_300: set[int] = set()
        dived_10: set[int] = set()
        exhausted_300: set[int] = set()
        dive_order: list[tuple[int, int]] = []  # (bucket_seconds, epoch) log
        bucket_data: list[dict] = []
        timeline_highlights: dict = {}
        timeline_summary: dict = {}
        acc = None  # accumulated evidence events (DataFrame)
        context_dirty = True
        llm_calls = 0
        hotspot_inspected = False
        coverage_complete = False
        phase = "A"
        iteration = 0
        last_det: dict = {}
        event_metrics = None

        while iteration < self.max_iterations:
            iteration += 1

            if phase == "A":
                top = T.top_events(events, severity_min=30, limit=500)
                tools_used.append("scanner.top_events")
                acc = top
                sev = T.severity_counts(events)
                additional.append(("severity_counts", sev))
                tools_used.append("scanner.severity_counts")
                hist = T.event_histogram(events, 10)
                additional.append(("event_histogram", hist))
                tools_used.append("scanner.event_histogram")
                span = T.time_span(events)
                additional.append(("time_span", span))
                tools_used.append("scanner.time_span")
                buckets = T.high_severity_buckets(
                    events, min_severity=0, bucket_seconds=300, limit=100
                )
                additional.append(("bucket_heatmap", buckets))
                tools_used.append("scanner.bucket_heatmap")
                for b in buckets[:10]:
                    e = int(b["bucket_start_epoch"])
                    if e not in glanced_300:
                        glanced_300.add(e)
                        dive_order.append((300, e))
                # global_summary's parts are the three results above;
                # recomputing them would cost three more jobs
                summary = T.summarize(sev, hist, span)
                additional.append(("global_summary", summary))
                tools_used.append("scanner.global_summary")
                # only the summary row is read, so the stitched scans'
                # checkpoints are released as soon as it is collected
                with released_checkpoints():
                    rb = D.rollback_analysis(events)
                    rollback_info = dict(rb["summary"].collect()[0].asDict())
                additional.append(("rollback_analysis", rollback_info))
                tools_used.append("scanner.rollback_analysis")
                event_metrics = derive_event_metrics(events)
                if baselines is None:
                    baselines = D.metric_baselines_table(
                        events, event_metrics, min_count=20
                    )
                additional.append(
                    ("metric_baselines", {"rows": baselines.count()})
                )
                tools_used.append("scanner.metric_baselines")
                eps = D.recovery_episodes(events)["episodes"]
                ep_rows = [r.asDict() for r in eps.limit(20).collect()]
                additional.append(("recovery_episodes", {"count": len(ep_rows)}))
                tools_used.append("scanner.recovery_episodes")

                bucket_data = buckets
                timeline_highlights = {
                    "time_span": span,
                    "top_event_types": list(
                        summary.get("event_histogram", {}).items()
                    )[:5],
                    "hot_buckets": buckets[:5],
                    "rollback_detected": rollback_info.get("detected"),
                    "recovery_episodes": ep_rows,
                }
                phase = "B"
                context_dirty = True
                continue  # defer LLM to the next iteration (reference :1091)

            # ---- global detectors (reference :1100-1151) ----
            det_results: dict[str, dict] = {}
            det_results["storage_engine_pressure"] = self._summary_dict(
                D.storage_engine_pressure(events, baselines)
            )
            det_results["recovery_loop"] = self._summary_dict(
                D.recovery_loop(events)
            )
            det_results["ratekeeper_throttling"] = self._summary_dict(
                D.ratekeeper_throttling(events)
            )
            det_results["missing_tlogs"] = self._summary_dict(
                D.missing_tlogs(events)
            )
            det_results["coordination_loss"] = self._summary_dict(
                D.coordination_loss(events)
            )
            hot_rows = [
                r.asDict()
                for r in D.zscore_hotspots(events)["hotspots"].collect()
            ]
            det_results["zscore_hotspots"] = {
                "detected": bool(hot_rows),
                "hotspots": [
                    {
                        "bucket_start_epoch": r["bucket"],
                        "max_severity": r["max_severity"],
                        "count": r["count"],
                    }
                    for r in hot_rows
                ],
            }
            bwa = [
                r.asDict()
                for r in D.baseline_window_anomalies(
                    events, event_metrics, baselines
                )["anomalies"]
                .limit(20)
                .collect()
            ]
            det_results["baseline_window_anomalies"] = {
                "detected": bool(bwa),
                "count": len(bwa),
                "first_anomaly": bwa[0] if bwa else None,
            }
            ma = (
                D.metric_anomalies(events)["anomalies"].limit(20).collect()
            )
            det_results["metric_anomalies"] = {
                "detected": bool(ma),
                "count": len(ma),
            }
            tools_used.extend(f"detectors.{k}" for k in det_results)
            additional.append(("detectors", det_results))
            last_det = det_results

            timeline_summary = build_timeline(
                acc if acc is not None else events,
                det_results,
                bucket_data,
                timeline_highlights.get("recovery_episodes"),
            )
            if timeline_summary:
                additional.append(("timeline_builder", timeline_summary))
                context_dirty = True

            if self.rag is not None:
                query = build_rag_query(
                    det_results, timeline_highlights, timeline_summary
                )
                retrieved = self.rag(query)
                tools_used.append("rag.retrieve")
                if retrieved:
                    additional.append(("rag", retrieved))
                    context_dirty = True

            # ---- gated LLM analysis (reference :1183-1233) ----
            analysis = {
                "hypothesis": hypothesis,
                "confidence": confidence,
                "reasoning": reasoning,
                "suggested_tools": [],
                "next_steps": "",
            }
            if llm_calls < self.max_llm_calls and context_dirty:
                events_text = format_events_for_llm(
                    acc if acc is not None else events, display_limit=20
                )
                extra = "\n\nAdditional Investigation Data:\n" + "\n".join(
                    f"\n{name}:\n{json.dumps(data, indent=2, default=str)}"
                    for name, data in cap_items(additional)
                )
                prompt = truncate_context(
                    knowledge_base_text()
                    + "\n\nQUESTION: "
                    + question
                    + "\n\n"
                    + events_text
                    + extra
                )
                if self.io_log_dir:
                    write_llm_input(prompt, self.io_log_dir, now=self.now)
                analysis = call_llm_with_retry(
                    lambda: self.llm(prompt), sleep=self.sleep
                )
                if self.io_log_dir:
                    write_llm_output(
                        json.dumps(analysis, indent=2, default=str),
                        self.io_log_dir,
                        now=self.now,
                    )
                llm_calls += 1
                context_dirty = False
                hypothesis = analysis["hypothesis"]
                confidence, reasoning = adjust_confidence(
                    hypothesis,
                    analysis.get("reasoning", ""),
                    events_text,
                    float(analysis["confidence"]),
                )

            # ---- hotspot dive (reference :1246-1305) ----
            # A z-score hotspot is a 300s bucket; one context window covers
            # ~10s. Dive it 10s sub-bucket at a time (eventful sub-buckets
            # first, via the same uncovered-bucket query scoped to the
            # hotspot's range) so successive iterations walk THROUGH the
            # hotspot instead of marking 300s inspected after one 10s
            # glimpse. A hotspot is skipped only once exhausted — a phase-A
            # heatmap glance at the same epoch never suppresses the dive.
            chosen_epoch = None
            zhot = last_det.get("zscore_hotspots", {})
            if zhot.get("detected") and zhot.get("hotspots"):
                # ONE distributed query per iteration covering ALL live
                # hotspots at once (not one job per hotspot): restrict
                # events to rows whose 300s bucket is a live hotspot,
                # bucket THOSE at 10s, drop dived sub-buckets, then pick
                # by (hotspot rank, epoch) driver-side — the candidate
                # list is tiny (≤ 30 sub-buckets per hotspot).
                live = [
                    e
                    for h in zhot["hotspots"]
                    if (e := int(h["bucket_start_epoch"])) not in exhausted_300
                ]
                if live:
                    in_live = events.filter(
                        (F.floor(F.col("ts").cast("double") / 300) * 300)
                        .cast("long")
                        .isin(live)
                    )
                    sub = T.get_uncovered(
                        in_live, sorted(dived_10), min_severity=0,
                        bucket_seconds=10,
                    )
                    rank = {e: i for i, e in enumerate(live)}
                    cands = sorted(
                        (rank[s - s % 300], s)
                        for s in (int(r["bucket_start_epoch"]) for r in sub)
                    )
                    if cands:
                        chosen_epoch = cands[0][1]
                    else:
                        # no live hotspot has an uncovered eventful
                        # sub-bucket left — all of them are exhausted
                        exhausted_300.update(live)
            if chosen_epoch is None:
                uncovered = T.get_uncovered(
                    events, sorted(dived_10), min_severity=10, bucket_seconds=10
                )
                tools_used.append("hotspots.get_uncovered")
                if uncovered:
                    chosen_epoch = int(uncovered[0]["bucket_start_epoch"])
            if chosen_epoch is not None:
                epoch = chosen_epoch
                around = epoch + 5.0  # mid-bucket for 10s buckets
                win = T.context_window(events, around, 5.0, limit=200)
                tools_used.append("context.context_window")
                if acc is None:
                    acc = win
                    grew = win.limit(1).count() > 0
                else:
                    fresh = win.join(
                        acc.select("event_id"), "event_id", "left_anti"
                    )
                    grew = fresh.limit(1).count() > 0
                    acc = acc.unionByName(win).dropDuplicates(["event_id"])
                if grew:
                    context_dirty = True
                dived_10.add(epoch)
                dive_order.append((10, epoch))
                hotspot_inspected = True
            else:
                coverage_complete = True

            if confidence >= self.confidence_threshold and (
                hotspot_inspected or coverage_complete
            ):
                break

        return InvestigationResult(
            hypothesis=hypothesis,
            confidence=confidence,
            reasoning=reasoning,
            tools_used=tools_used,
            iterations=iteration,
            inspected_buckets=dive_order,
        )

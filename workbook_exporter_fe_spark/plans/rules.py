"""Prometheus-style recording + alerting rules over the PromQL front-end.

The reference emits scrape configs whose downstream ecosystem is
prometheus rule files (`groups: - record: ... expr: ...` /
`- alert: ... expr: ... for: ...`); this module evaluates that rule
model engine-side, batch-style, over tier tables registered in a
:class:`~workbook_exporter_fe_spark.plans.promql.MetricStore`.

- **Recording rules** evaluate a PromQL expression and register the
  result back into the store under the recorded metric name, so later
  rules in the same group can reference it (prometheus's intra-group
  chaining). The registered frame is the PLAN, not materialized data —
  chained rules compose into one Catalyst tree; call sites decide
  where to persist (e.g. commit each output to a SnapshotTable).
- **Alerting rules** use PromQL filter semantics (a series is a firing
  candidate at t exactly when the expr emits it at t) plus the `for:`
  duration: an alert is `firing` at t only when the series was present
  at EVERY grid step of the trailing `for` window, else `pending`.
  Streaks are computed with the island trick — tsec/step − row_number()
  is constant exactly on consecutive-step runs — one window pass per
  alert, no self-joins, no UDFs.

Scale: everything inherits the PromQL compiler's shapes (RANGE frames
over (labels, ts)-sorted series); the island pass adds one same-sort
window. Rule groups are plan composition only — N chained rules still
execute as one job per materialized output.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .promql import MetricStore, PromQL, PromQLError, Vector, parse


@dataclass(frozen=True)
class RecordingRule:
    record: str  # output metric name
    expr: str


@dataclass(frozen=True)
class AlertingRule:
    alert: str
    expr: str
    for_s: float = 0.0  # `for:` duration, seconds
    step_s: float = 60.0  # evaluation grid step of the underlying tiers


@dataclass(frozen=True)
class AbsentAlertingRule:
    """Prometheus's dead-scrape alarm: ``alert: ... expr: absent(m)``.

    Fires when the expression yields NO non-stale sample at a grid step
    (plans/promql.py absent_range — absence needs the explicit grid; on
    the native grid it is unobservable). ``for_s`` demands the metric
    stay absent for a full streak of steps before ``firing``, exactly
    like the presence-side rule. Label-less, like absent() itself."""

    alert: str
    expr: str  # the inner expression; absence of ITS output is alerted
    start: object  # grid bounds: epoch seconds or datetime
    end: object
    for_s: float = 0.0
    step_s: float = 60.0
    lookback_s: float = 300.0  # staleness for "present"


class RuleEngine:
    """Evaluate an ordered rule group against a MetricStore."""

    def __init__(self, store: MetricStore) -> None:
        self.store = store
        self._pq = PromQL(store)

    def run(
        self, rules: list[RecordingRule | AlertingRule | AbsentAlertingRule]
    ) -> dict[str, DataFrame]:
        """Evaluate rules in order; returns {rule name: output frame}.

        Recording outputs are (labels..., ts, value) and are registered
        into the store for later rules. Alert outputs add a ``state``
        column (``firing`` / ``pending``)."""
        out: dict[str, DataFrame] = {}
        for rule in rules:
            if isinstance(rule, RecordingRule):
                vec = self._pq._eval(parse(rule.expr))
                if isinstance(vec, float):
                    raise PromQLError(
                        f"recording rule {rule.record!r} evaluates to a scalar"
                    )
                df = vec.df.select(*vec.labels, "ts", "value")
                self.store._metrics[rule.record] = (df, vec.labels)
                out[rule.record] = df
            elif isinstance(rule, AlertingRule):
                out[rule.alert] = self._alert(rule)
            elif isinstance(rule, AbsentAlertingRule):
                out[rule.alert] = self._absent_alert(rule)
            else:  # pragma: no cover
                raise TypeError(type(rule))
        return out

    @staticmethod
    def _streak_states(
        d: DataFrame, labels: list[str], step: int, need: int
    ) -> DataFrame:
        """Attach ``state`` (firing/pending) via the island trick:
        tsec/step − row_number() is constant exactly on consecutive-step
        runs, so a streak is one (labels, island) run — one window pass,
        no self-joins."""
        d = d.withColumn("_tsec", F.col("ts").cast("timestamp").cast("long"))
        wo = (
            Window.partitionBy(*labels).orderBy("_tsec")
            if labels
            else Window.orderBy("_tsec")
        )
        island = (F.col("_tsec") / step).cast("long") - F.row_number().over(wo)
        d = d.withColumn("_isl", island)
        wisl = (
            Window.partitionBy(*labels, "_isl").orderBy("_tsec")
            if labels
            else Window.partitionBy("_isl").orderBy("_tsec")
        )
        streak = F.row_number().over(wisl)
        state = F.when(streak >= need, F.lit("firing")).otherwise(
            F.lit("pending")
        )
        return (
            d.withColumn("state", state)
            .select(*labels, "ts", "value", "state")
        )

    def _alert(self, rule: AlertingRule) -> DataFrame:
        vec = self._pq._eval(parse(rule.expr))
        if isinstance(vec, float) or not isinstance(vec, Vector):
            raise PromQLError(f"alert {rule.alert!r} needs a vector expr")
        need = int(rule.for_s // rule.step_s) + 1  # samples in a full streak
        return self._streak_states(
            vec.df, vec.labels, int(rule.step_s), need
        )

    def _absent_alert(self, rule: AbsentAlertingRule) -> DataFrame:
        from .promql import absent_range

        d = absent_range(
            self.store, rule.expr, rule.start, rule.end,
            step=int(rule.step_s), lookback=int(rule.lookback_s),
        )
        need = int(rule.for_s // rule.step_s) + 1
        return self._streak_states(d, [], int(rule.step_s), need)


def run_rules(
    store: MetricStore, rules: list[RecordingRule | AlertingRule | AbsentAlertingRule]
) -> dict[str, DataFrame]:
    return RuleEngine(store).run(rules)


# --------------------------------------------------- incremental refresh


def _walk(node):
    yield node
    from .promql import Agg, Binary, Call

    if isinstance(node, Call):
        for a in node.args:
            yield from _walk(a)
    elif isinstance(node, Agg):
        yield from _walk(node.expr)
        if node.param is not None:
            yield from _walk(node.param)
    elif isinstance(node, Binary):
        yield from _walk(node.lhs)
        yield from _walk(node.rhs)


def lookback_seconds(
    expr: str, recorded: dict[str, float] | None = None
) -> float:
    """How far back a rule's output at time t depends on its inputs.

    The max over every selector of (range + offset), plus — for selectors
    naming a RECORDED metric — that rule's own cumulative lookback
    (chained rules compound their windows). This is what makes
    incremental evaluation sound: re-reading inputs in
    ``(W - lookback, ∞)`` reproduces every output with ts > W exactly.
    """
    from .promql import Selector, parse

    look = 0.0
    for node in _walk(parse(expr)):
        if isinstance(node, Selector):
            own = (node.range_s or 0.0) + node.offset_s
            own += (recorded or {}).get(node.name, 0.0)
            look = max(look, own)
    return look


class RuleMaterializer:
    """Materialize rule outputs as SnapshotTable appends, incrementally.

    Each rule owns one snapshot table under ``<out_root>/<rule name>``.
    A refresh evaluates the rule group over the store RESTRICTED to
    ``ts > W − lookback`` (W = the rule's materialized watermark, the max
    committed ts; lookback from :func:`lookback_seconds`, plus the
    ``for:`` duration for alerts) and appends only rows with ``ts > W`` —
    the continuous-aggregate refresh pattern from plans/pipeline.py
    applied to PromQL. Output rows at or below the watermark are final by
    construction, so refreshes are idempotent under re-run; correctness
    needs the same discipline as the tier pipeline: only evaluate over
    CLOSED source buckets (run this behind the pipeline's late-event
    watermark).

    At 100 TB the restriction is the whole point: a day's refresh reads a
    day-plus-lookback of the tier tables (a filter Catalyst pushes into
    the scan — with SnapshotTable sources, ``changes()``/stats pruning
    narrow it further), never the full history.
    """

    def __init__(self, spark, out_root: str) -> None:
        from ..sources.snapshots import SnapshotTable

        self.spark = spark
        self.out_root = out_root
        self._table = lambda name: SnapshotTable(
            spark, f"{out_root}/{name}"
        )

    def _watermark(self, name: str) -> float | None:
        t = self._table(name)
        if t.current_sequence() == 0:
            return None
        # epoch seconds computed engine-side (a naive-datetime round trip
        # through python would re-interpret in the machine timezone)
        row = t.read().agg(
            F.max(F.col("ts").cast("timestamp").cast("double")).alias("m")
        ).first()
        return row["m"]

    def refresh(
        self, store: MetricStore, rules: list[RecordingRule | AlertingRule | AbsentAlertingRule]
    ) -> dict[str, dict]:
        """One incremental pass over the rule group; returns per-rule
        stats {name: {"watermark": float|None, "new_rows": int, "seq": int}}."""
        stats: dict[str, dict] = {}
        recorded: dict[str, float] = {}
        for i, rule in enumerate(rules):
            name = rule.record if isinstance(rule, RecordingRule) else rule.alert
            extra = 0.0
            if isinstance(rule, AlertingRule):
                extra = rule.for_s
            elif isinstance(rule, AbsentAlertingRule):
                # the streak needs for_s of history AND the staleness
                # window that decides "present" at the first kept step
                extra = rule.for_s + rule.lookback_s
            look = lookback_seconds(rule.expr, recorded) + extra
            if isinstance(rule, RecordingRule):
                recorded[name] = lookback_seconds(rule.expr, recorded)
            wm = self._watermark(name)
            # evaluate the group PREFIX each pass so chaining resolves
            # (plan composition only — nothing upstream materializes),
            # against a store restricted to this rule's needed history
            sub = store if wm is None else _restrict(store, wm - look)
            out = RuleEngine(sub).run(list(rules[: i + 1]))[name]
            if wm is not None:
                out = out.filter(
                    F.col("ts").cast("timestamp").cast("double") > wm
                )
            tbl = self._table(name)
            n = out.count()
            seq = tbl.commit(out) if n else tbl.current_sequence()
            stats[name] = {"watermark": wm, "new_rows": n, "seq": seq}
        return stats


#: far-future epoch bound for one-sided restrictions (year ~3058)
_FAR_FUTURE = 1 << 35


def _restrict(store: MetricStore, min_ts: float) -> MetricStore:
    """A view of the store with every metric filtered to ts > min_ts —
    a plain scan predicate Catalyst pushes down to the source.

    Lazy (SnapshotTable-backed) metrics STAY lazy: their loaders are
    re-registered with the refresh window curried in as a manifest
    ``col_between`` plus the exact row filter on top, so file pruning
    happens before Spark lists anything AND only rules that reference
    the metric pay its manifest work — at 100 TB a day's rule refresh
    opens a day-plus-lookback of tier files, never the table (r5; also
    the fix for lazy metrics simply VANISHING from the restricted view,
    since they live in ``_lazy``, not ``_metrics``, until first load).
    A caller's own prune window (``query_range`` through
    ``MetricStore.bounded``) is intersected with the refresh window, not
    replaced by it."""
    sub = MetricStore()
    sub.pruning_stats = store.pruning_stats
    for name, (df, labels) in store._metrics.items():
        if name in store._lazy:
            continue  # a memoized UNBOUNDED load; the lazy path wins
        sub._metrics[name] = (
            df.filter(
                F.col("ts").cast("timestamp").cast("double") > F.lit(min_ts)
            ),
            labels,
        )
    for name, (loader, labels, ts_col, value_col) in store._lazy.items():

        def _bounded_loader(bounds, _l=loader, _ts=ts_col):
            lo, hi = int(min_ts), _FAR_FUTURE
            if bounds is not None:
                lo, hi = max(lo, int(bounds[0])), min(hi, int(bounds[1]))
            raw = _l((lo, max(lo, hi)))
            return raw.filter(
                F.col(_ts).cast("timestamp").cast("double")
                > F.lit(float(min_ts))
            )

        sub._lazy[name] = (_bounded_loader, labels, ts_col, value_col)
    return sub


def alert_transitions(
    alerts: DataFrame,
    labels: tuple[str, ...] = ("source",),
    step_s: float = 60.0,
) -> DataFrame:
    """Alert state CDC: one event row per transition, from the dense
    alert frame RuleEngine emits.

    Emits (labels..., ts, event) where event ∈ {'pending', 'firing',
    'resolved'}: 'pending'/'firing' when a row's state differs from the
    previous emitted row's (or there was no previous row / a grid gap —
    a fresh violation after silence re-enters at its own state), and
    'resolved' stamped one step after the LAST row of a streak once a
    later row proves the silence (a trailing open streak cannot resolve
    yet — batch evaluation cannot see past its data). One lag window per
    series; notification fan-out then processes transition rows only,
    which is streaks-many, not samples-many.
    """
    d = alerts.withColumn(
        "_tsec", F.col("ts").cast("timestamp").cast("long")
    )
    wo = (
        Window.partitionBy(*labels).orderBy("_tsec")
        if labels
        else Window.orderBy("_tsec")
    )
    prev_t = F.lag("_tsec").over(wo)
    prev_s = F.lag("state").over(wo)
    gap = prev_t.isNull() | (F.col("_tsec") - prev_t > int(step_s))
    enters = (
        d.withColumn("_gap", gap)
        .withColumn("_ps", prev_s)
        .filter(F.col("_gap") | (F.col("state") != F.col("_ps")))
        .select(*labels, "ts", F.col("state").alias("event"))
    )
    resolved = (
        d.withColumn("_nt", F.lead("_tsec").over(wo))
        .filter(F.col("_nt").isNotNull() & (F.col("_nt") - F.col("_tsec") > int(step_s)))
        .select(
            *labels,
            F.timestamp_seconds(F.col("_tsec") + int(step_s)).alias("ts"),
            F.lit("resolved").alias("event"),
        )
    )
    return enters.unionByName(resolved)

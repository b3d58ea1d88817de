"""Schedule + retry semantics for the daily warehouse export — the
control-plane half of the reference's Airflow DAG
(bigquery_update_scheduler.py:288-322) that export/daily.py's data
movement replaces:

- cron ``0 23 * * *`` (daily 23:00), ``catchup=False``
- ``retries=2`` with ``retry_delay=5 minutes``
- task order read → upload (here: the export function itself, which
  replaces the day's warehouse file, so a retry after a late failure
  writes the day once again, not twice).

This module is deliberately engine-side and dependency-free: a real
deployment can hand ``ExportPolicy``/``run_with_retries`` to any
orchestrator (Airflow PythonOperator, cron, a streaming
foreachBatch-driven trigger) without changing the export logic. The
cron evaluator supports the subset real policies use (``*``, integers,
lists, ranges, ``*/step``) — enough to express every schedule the
reference or TESTDATA pipelines declare.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# Reference defaults (bigquery_update_scheduler.py:288-301).
DEFAULT_CRON = "0 23 * * *"
DEFAULT_RETRIES = 2
DEFAULT_RETRY_DELAY = timedelta(minutes=5)


def _parse_field(spec: str, lo: int, hi: int) -> frozenset[int]:
    """One cron field → the set of matching values in [lo, hi]."""
    out: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
        if part == "*":
            rng = range(lo, hi + 1)
        elif "-" in part:
            a, b = part.split("-", 1)
            rng = range(int(a), int(b) + 1)
        else:
            rng = range(int(part), int(part) + 1)
        out.update(v for v in rng if (v - rng.start) % step == 0)
    if not out or min(out) < lo or max(out) > hi:
        raise ValueError(f"cron field {spec!r} out of range [{lo},{hi}]")
    return frozenset(out)


@dataclass(frozen=True)
class CronSpec:
    """Parsed 5-field cron expression (minute hour dom month dow;
    dow 0=Sunday, as in the reference's Airflow deployment)."""

    minute: frozenset[int]
    hour: frozenset[int]
    dom: frozenset[int]
    month: frozenset[int]
    dow: frozenset[int]

    @classmethod
    def parse(cls, expr: str) -> CronSpec:
        fields = expr.split()
        if len(fields) != 5:
            raise ValueError(f"cron {expr!r} must have 5 fields")
        # standard cron accepts both 0 and 7 for Sunday in the dow
        # field (incl. inside ranges like 5-7): parse over 0-7, then
        # fold 7 onto 0
        dow = frozenset(v % 7 for v in _parse_field(fields[4], 0, 7))
        return cls(
            minute=_parse_field(fields[0], 0, 59),
            hour=_parse_field(fields[1], 0, 23),
            dom=_parse_field(fields[2], 1, 31),
            month=_parse_field(fields[3], 1, 12),
            dow=dow,
        )

    def matches(self, t: datetime) -> bool:
        return (
            t.minute in self.minute
            and t.hour in self.hour
            and t.day in self.dom
            and t.month in self.month
            and t.isoweekday() % 7 in self.dow
        )

    def next_fire(self, after: datetime) -> datetime:
        """First matching minute strictly after ``after``."""
        t = after.replace(second=0, microsecond=0) + timedelta(minutes=1)
        limit = after + timedelta(days=366 * 2)  # any 5-field cron fires within this
        while t <= limit:
            if self.matches(t):
                return t
            t += timedelta(minutes=1)
        raise ValueError("cron never fires")


@dataclass(frozen=True)
class ExportPolicy:
    """The DAG's scheduling contract as data."""

    cron: str = DEFAULT_CRON
    retries: int = DEFAULT_RETRIES
    retry_delay: timedelta = DEFAULT_RETRY_DELAY
    catchup: bool = False  # reference sets catchup=False
    # how far back due_runs scans when there is NO prior run (see its
    # docstring); a backfill widens this explicitly
    lookback: timedelta = timedelta(days=1)

    def spec(self) -> CronSpec:
        return CronSpec.parse(self.cron)


@dataclass
class RunReport:
    """What happened when a scheduled run executed."""

    logical_date: datetime
    attempts: int = 0
    succeeded: bool = False
    result: object = None
    errors: list[str] = field(default_factory=list)


def due_runs(policy: ExportPolicy, last_run: datetime | None, now: datetime) -> list[datetime]:
    """Fire times in (last_run, now]. With ``catchup=False`` (the
    reference's setting) only the MOST RECENT missed window runs; a
    backfill is an explicit operator action, not an automatic catch-up.

    With no prior run the scan DELIBERATELY starts 24h back (the
    ``lookback`` parameter), not at an Airflow-style start_date: a
    fresh deployment should pick up at most the latest daily window,
    even under catchup=True — historical backfill is the operator's
    explicit call."""
    spec = policy.spec()
    fires: list[datetime] = []
    t = last_run or (now - policy.lookback)
    while True:
        t = spec.next_fire(t)
        if t > now:
            break
        fires.append(t)
    if not policy.catchup and len(fires) > 1:
        fires = fires[-1:]
    return fires


def run_with_retries(
    job: Callable[[], object],
    policy: ExportPolicy,
    logical_date: datetime,
    sleep: Callable[[float], None] = time.sleep,
) -> RunReport:
    """Execute ``job`` under the policy's retry contract: up to
    ``retries`` re-attempts, ``retry_delay`` apart — the engine-side
    equivalent of Airflow's ``retries=2, retry_delay=5min``. A retried
    job runs again from the start, so it must be safe to repeat:
    ``export_partition`` is, because it replaces its day's file."""
    report = RunReport(logical_date=logical_date)
    for attempt in range(policy.retries + 1):
        report.attempts = attempt + 1
        try:
            report.result = job()
            report.succeeded = True
            return report
        except Exception as exc:  # noqa: BLE001 — the retry boundary
            report.errors.append(f"{type(exc).__name__}: {exc}")
            if attempt < policy.retries:
                sleep(policy.retry_delay.total_seconds())
    return report

"""In-process fake REST transport with seeded rate limits, and a
recorded ``sleep`` for ``rest_sink.run_sink``.

Both run inside Spark's Python workers (``foreachPartition``), so they
report through accumulators: rows acknowledged, first attempts refused
with ``RateLimited``, and the backoff seconds the sink asked to sleep.
Nothing is slept. Which first attempts are refused is a pure function
of the seed and the row's key, so a run is reproducible.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.accumulators import Accumulator

from trello_github_etl_spark.sources.rest_sink import RateLimited, SinkConfig

RATE_LIMIT_SHARE = 0.02  # of first attempts
SECOND_REFUSAL_SHARE = 0.25  # of rows refused once, refused again


def _unit(seed: int, key: str) -> float:
    return zlib.crc32(f"{seed}:{key}".encode()) / 2**32


def refusals(seed: int, key: str) -> int:
    """How many attempts for ``key`` are rate-limited before one succeeds."""
    if _unit(seed, key) >= RATE_LIMIT_SHARE:
        return 0
    return 2 if _unit(seed + 1, key) < SECOND_REFUSAL_SHARE else 1


def row_key(payload: dict) -> str:
    return f"{payload['op']}:{payload['entity_id']}:{payload.get('field_name')}"


OPS = ("create", "update", "field")


@dataclass
class SinkCounters:
    sent: dict[str, Accumulator]  # rows acknowledged, per op
    rate_limited: Accumulator
    second_refusals: Accumulator
    backoffs: Accumulator
    backoff_s: Accumulator

    @classmethod
    def create(cls, sc: SparkContext) -> "SinkCounters":
        return cls(
            {op: sc.accumulator(0) for op in OPS},
            *(sc.accumulator(0) for _ in range(3)),
            sc.accumulator(0.0),
        )

    def values(self) -> dict[str, float]:
        sent = {f"sent_{op}": acc.value for op, acc in self.sent.items()}
        return {
            **sent,
            "rows_sent": sum(sent.values()),
            "rate_limited": self.rate_limited.value,
            "second_refusals": self.second_refusals.value,
            "backoffs": self.backoffs.value,
            "backoff_s_requested": self.backoff_s.value,
        }


def make_transport(seed: int, counters: SinkCounters):
    """Accept every row, except that a seeded share of rows is refused
    with ``RateLimited`` once or twice first. Refusals are counted per
    task, so the sink's retries of the same row then succeed."""
    sent, limited, second = counters.sent, counters.rate_limited, counters.second_refusals
    refused: dict[str, int] = {}

    def transport(payload: dict) -> None:
        key = row_key(payload)
        done = refused.get(key, 0)
        if done < refusals(seed, key):
            refused[key] = done + 1
            limited.add(1)
            second.add(done)
            raise RateLimited(key)
        sent[payload["op"]].add(1)

    return transport


def make_sleep(counters: SinkCounters):
    """Record backoff requests instead of sleeping. The inter-row
    throttle asks for 0 s under ``SINK_CONFIG`` and is not counted."""
    backoffs, seconds = counters.backoffs, counters.backoff_s

    def sleep(s: float) -> None:
        if s > 0:
            backoffs.add(1)
            seconds.add(s)

    return sleep


# the reference's backoff rule (60 s, x2, reset on success), no throttle
SINK_CONFIG = SinkConfig(sleep_s=0.0)


def check_counts(values: dict[str, float], expected: dict[str, int]) -> list[str]:
    """Problems with one ``run_sink`` call's counters, or []. ``expected``
    maps each op to the rows it must send."""
    problems = [
        f"sent {values[f'sent_{op}']} {op} rows, expected {n}"
        for op, n in expected.items()
        if values[f"sent_{op}"] != n
    ]
    if values["backoffs"] != values["rate_limited"]:
        problems.append(
            f"{values['rate_limited']} rate limits but {values['backoffs']} backoffs"
        )
    # 60 s for a first refusal, 60 s x 2 for a second one in a row
    start, factor = SINK_CONFIG.backoff_start_s, SINK_CONFIG.backoff_factor
    want_s = (values["rate_limited"] - values["second_refusals"]) * start + values[
        "second_refusals"
    ] * start * factor
    if values["backoff_s_requested"] != want_s:
        problems.append(
            f"backoff requested {values['backoff_s_requested']} s, expected {want_s} s"
        )
    return problems

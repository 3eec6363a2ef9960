"""Timing subclass of the mock Salesforce connector.

Executors receive pickled copies of the connector, so counters kept in
the benchmark's own process never see per-batch calls. Like the mock,
this appends one line per call to a call log: ``<kind>,<records>`` from
the mock itself, then ``<kind>_ms,<milliseconds>`` from the subclass.
The log path comes from ``PERFBENCH_CALL_LOG`` because ``get_connector``
builds registered connectors with no arguments.

Kept free of Spark imports: Python workers import this module to unpickle
the connector.
"""

from __future__ import annotations

import itertools
import os
import time

from dbt_omnata_push_spark.connectors.mock_salesforce import MockSalesforceConnector

NAMESPACE = "perfbench"
CALL_LOG_ENV = "PERFBENCH_CALL_LOG"


class TimedSalesforceConnector(MockSalesforceConnector):
    # get_connector builds one instance per load, and the mock numbers
    # jobs per instance; a per-instance prefix keeps job ids (and so the
    # log-entry ids derived from them) unique, as the real API's are.
    _instances = itertools.count(1)

    def __init__(self):
        super().__init__(
            job_prefix=f"750{next(self._instances):09d}",
            call_log=os.environ.get(CALL_LOG_ENV),
        )

    def load_batch(self, job_id, records):
        t0 = time.perf_counter()
        out = super().load_batch(job_id, records)
        self._tally("load_batch_ms", (time.perf_counter() - t0) * 1e3)
        return out


def read_call_log(path: str, offset: int) -> tuple[dict[str, float], int]:
    """Sum the call log's values per kind from byte ``offset`` on.
    Returns the sums and the new offset."""
    sums: dict[str, float] = {}
    calls: dict[str, int] = {}
    try:
        with open(path, "rb") as f:
            f.seek(offset)
            data = f.read()
    except FileNotFoundError:
        return sums, offset
    end = data.rfind(b"\n") + 1  # a worker may be mid-line; keep it for later
    for line in data[:end].decode().splitlines():
        kind, value = line.split(",")
        sums[kind] = sums.get(kind, 0.0) + float(value)
        calls[kind] = calls.get(kind, 0) + 1
    for kind, n in calls.items():
        sums[f"{kind}#calls"] = n
    return sums, offset + end

"""Mock Salesforce connector with the reference harness's canned responses.

Response shapes copied from the JS mock UDFs the reference installs in
its integration tests (integration_tests/dbt_project.yml:30-62):
- create-job descriptor (lines 35-40): id, state Queued, counters;
- per-record load result (lines 46-51): {created, errors[], id, success};
- close-job descriptor (lines 57-62): state Closed, processing counters.

Deterministic: job ids derive from one counter per process, shared by
every instance, and record ids from the record index, so run-twice
tests are reproducible. ``get_connector`` builds a fresh instance per
load, so a per-instance counter would reissue the same job id every
cycle; the real Bulk API never does. Picklable (no open
connections) — executors get copies inside mapInPandas stages.
"""

from __future__ import annotations

import itertools

from .base import SalesforceConnector, register_connector


class MockSalesforceConnector(SalesforceConnector):
    _job_seq = itertools.count(1)  # class-wide: job ids unique per process

    def __init__(self, job_prefix: str = "750000000000001", call_log: str | None = None):
        self.job_prefix = job_prefix
        self.created_jobs: list[dict] = []
        self.closed_jobs: list[str] = []
        # Optional append-only file tallying executor-side calls: the
        # connector is pickled into Python workers, so in-memory counters
        # on the driver copy never see load_batch traffic.
        self.call_log = call_log

    def _tally(self, kind: str, n: int) -> None:
        if self.call_log:
            with open(self.call_log, "a") as f:
                f.write(f"{kind},{n}\n")

    def create_job(self, operation, object_name, use_serial, external_id_field):
        job_id = f"{self.job_prefix}{next(MockSalesforceConnector._job_seq):03d}"
        meta = {
            "apexProcessingTime": 0,
            "apiActiveProcessingTime": 0,
            "apiVersion": 47.0,
            "concurrencyMode": "Serial" if use_serial else "Parallel",
            "contentType": "JSON",
            "id": job_id,
            "object": object_name,
            "operation": operation,
            "state": "Queued",
            "numberBatchesCompleted": 0,
            "numberBatchesQueued": 0,
            "numberBatchesTotal": 0,
            "numberRecordsProcessed": 0,
            "numberRecordsFailed": 0,
            "externalIdFieldName": external_id_field,
        }
        self.created_jobs.append(meta)
        return meta

    def load_batch(self, job_id, records):
        self._tally("load_batch", len(records))
        return [
            {
                "created": True,
                "errors": [],
                "id": f"00Q{abs(hash((job_id, i))) % 10**12:012d}",
                "success": True,
            }
            for i, _ in enumerate(records)
        ]

    def close_job(self, job_id):
        self.closed_jobs.append(job_id)
        return {
            "apexProcessingTime": 0,
            "apiActiveProcessingTime": 2166,
            "apiVersion": 47.0,
            "concurrencyMode": "Parallel",
            "contentType": "JSON",
            "id": job_id,
            "state": "Closed",
            "numberBatchesCompleted": 1,
            "numberBatchesTotal": 1,
            "numberRecordsProcessed": 1000,
            "numberRecordsFailed": 0,
            "totalProcessingTime": 2411,
        }


register_connector("salesforce", MockSalesforceConnector)

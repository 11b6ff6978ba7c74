"""HTTP push sink configuration — the engine's replacement for the
reference's env-branch config block (S1, ``crowdsorsa-etl-2023.R:12-26``:
prod vs dev API url / source id / token chosen by the ``BRANCH`` env var).

A deployment passes its endpoint and token as an explicit ``SinkConfig``
and its laji.fi source id as ``documents_2023/2024(source_id=)``, instead
of branching on interpreter globals set by a git shell-out.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SinkConfig:
    """HTTP push sink settings (reference S29-S30)."""

    api_url: str = "https://apitest.example.invalid/"
    access_token: str = ""
    # reference hard-codes Sys.sleep(.1) → ≤10 docs/s single-threaded
    # (crowdsorsa-etl-2023.R:220); here the limit is per partition so
    # global throughput scales with parallelism.
    docs_per_second_per_partition: float = 10.0
    max_retries: int = 3
    retry_backoff_s: float = 0.5
    timeout_s: float = 30.0

"""Retrying executor — E-1 parity (Redshift.php:226-260).

The reference retries each SQL statement up to 3 times with quadratic
backoff (``sleep(tries²)``), reconnecting between attempts, and re-throws
the final exception enriched with load errors. Spark already retries
*tasks* (``spark.task.maxFailures``); this executor is the app-level
analog around whole actions (a full-table write), where a transient
driver-side failure (FS hiccup, metastore race) is worth one more try.

UserExceptions never retry — bad config/data will not get better.
ApplicationExceptions never retry either: they report an engine state a
blind retry would make worse (catalog.replace_table raises one when a
table swap failed after its new contents were written).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from typing import TypeVar

from db_writer_redshift_spark.config.errors import ApplicationException, UserException

logger = logging.getLogger("db_writer_redshift_spark")

T = TypeVar("T")

MAX_ATTEMPTS = 3  # Redshift.php:237 ($maxTries = 3)


def run_with_retry(
    fn: Callable[[], T],
    attempts: int = MAX_ATTEMPTS,
    sleep: Callable[[float], None] | None = None,
    what: str = "action",
) -> T:
    """Call ``fn`` up to ``attempts`` times; quadratic backoff between
    attempts (1s, 4s — Redshift.php:251 ``sleep(pow($tries, 2))``).
    ``sleep`` defaults to ``time.sleep`` as looked up at call time."""
    last: Exception | None = None
    for tries in range(1, attempts + 1):
        try:
            return fn()
        except (UserException, ApplicationException):
            raise  # deterministic or unsafe to repeat — never retry
        except Exception as exc:  # noqa: BLE001
            last = exc
            if tries == attempts:
                break
            logger.warning("%s failed (attempt %d/%d): %s — retrying", what, tries, attempts, exc)
            (sleep or time.sleep)(tries**2)
    assert last is not None
    raise last

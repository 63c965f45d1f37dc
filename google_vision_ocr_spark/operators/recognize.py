"""T4/T10/P5: the external-service recognition call.

Reference: per-image Google Vision ``text_detection`` calls fanned out
over a thread pool (``ocr_service.py:18-47`` + pools at :112-116 and
:218-228), failures downgraded to per-item error text
(``ocr_service.py:226-228``) instead of failing the batch.

:func:`make_recognize` builds the per-task call the extraction kernel
(``plans/fused.py``) makes for every page: a per-executor token-bucket
rate limiter and bounded exponential backoff (BASELINE.json north_star:
"rate-limited per executor with retry/backoff and idempotent outputs")
— idempotency holds because the output is keyed by the deterministic
``(url, page)`` identity and the recognizer is pure.  Permanent format
errors (``RecognitionError``) skip retries and become error rows
immediately.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from ..recognizers import RecognitionError, get_recognizer


class TokenBucket:
    """Per-executor-process rate limiter (qps; burst = qps)."""

    def __init__(self, qps: float):
        self.qps = qps
        self.capacity = max(qps, 1.0)
        self.tokens = self.capacity
        self.last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.qps)
            self.last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            time.sleep(max((1.0 - self.tokens) / self.qps, 0.001))


def make_recognize(
    recognizer: str,
    rate_limit_qps: float | None,
    max_retries: int,
    backoff_base_s: float,
) -> Callable[[bytes, object], tuple[str, bool]]:
    """Per-task ``recognize(payload, item_id) -> (text, is_error)`` with
    the error-as-data message format of ``ocr_service.py:228``.  The
    options' defaults live in ``plans/fused.make_recognize_item``."""
    engine = get_recognizer(recognizer)
    bucket = TokenBucket(rate_limit_qps) if rate_limit_qps else None

    def recognize(payload: bytes, item_id) -> tuple[str, bool]:
        attempt = 0
        while True:
            if bucket is not None:
                bucket.acquire()
            try:
                return engine.recognize(payload), False
            except RecognitionError as exc:
                # permanent: error-as-data (ocr_service.py:228 format)
                return f"OCR Error for ID {item_id}: {exc}", True
            except Exception as exc:
                attempt += 1
                if attempt > max_retries:
                    return f"OCR Error for ID {item_id}: {exc}", True
                time.sleep(backoff_base_s * (2 ** (attempt - 1)))

    return recognize

"""Fault-injection accessor layers for tests: a deterministic chaos
wrapper and a bounded-retry layer, the analogues of the reference
accessor's chaos wrapper and ``RetryConfig``
(``filesystem_accessor_chaos_wrapper.rs`` / ``chaos_generator.rs``,
``storage/filesystem/accessor_config.rs``).  Both wrap any
``moonlink_spark.fs`` accessor; no production path retries."""

from __future__ import annotations

import random
import time

from moonlink_spark.fs import PosixFileSystem


class TransientIOError(IOError):
    """A retryable I/O failure (throttled object store, 5xx, socket
    reset).  :class:`ChaosFileSystem` raises these;
    :class:`RetryingFileSystem` absorbs them."""


class ChaosFileSystem:
    """Deterministic fault injector: every Nth-ish operation (seeded
    PRNG, reproducible) raises :class:`TransientIOError` BEFORE
    delegating, so a fault never half-applies an operation.
    ``publish_cas`` is exempt by default — the reference injects around
    the commit point, not inside it (a failed CAS is already a modeled
    outcome)."""

    FAULTED = ("read_bytes", "write_atomic", "rename", "remove",
               "copy", "list", "create_exclusive")

    def __init__(self, inner: PosixFileSystem | None = None, *,
                 error_rate: float = 0.2, seed: int = 0):
        self.inner = inner or PosixFileSystem()
        self.error_rate = error_rate
        self._rng = random.Random(seed)
        self.faults_injected = 0

    def _maybe_fault(self, op: str, path: str) -> None:
        if self._rng.random() < self.error_rate:
            self.faults_injected += 1
            raise TransientIOError(f"injected fault: {op}({path})")

    def __getattr__(self, name: str):
        target = getattr(self.inner, name)
        if name not in self.FAULTED:
            return target

        def faulted(*a, **k):
            self._maybe_fault(name, a[0] if a else "")
            return target(*a, **k)
        return faulted


class RetryingFileSystem:
    """Bounded-retry layer: transient failures retry with exponential
    backoff, non-transient errors and exhaustion propagate.  Safe to
    wrap every operation because the accessor contract makes each
    either atomic (write_atomic, CAS, posix rename) or
    idempotent-on-retry (reads, listings, remove of an already-removed
    path is the one exception — NotFound after a successful-but-unacked
    delete is treated as success, the standard object-store idiom)."""

    def __init__(self, inner: PosixFileSystem | None = None, *,
                 retries: int = 4, backoff_s: float = 0.01,
                 retry_on: type | tuple = TransientIOError):
        self.inner = inner or PosixFileSystem()
        self.retries = retries
        self.backoff_s = backoff_s
        self.retry_on = retry_on
        self.retries_used = 0

    def _call(self, name: str, *a, **k):
        target = getattr(self.inner, name)
        attempt = 0
        while True:
            try:
                return target(*a, **k)
            except self.retry_on:
                attempt += 1
                if attempt > self.retries:
                    raise
                self.retries_used += 1
                time.sleep(self.backoff_s * (2 ** (attempt - 1)))
            except FileNotFoundError:
                if name == "remove" and attempt > 0:
                    return None  # earlier attempt deleted it: success
                raise

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        return lambda *a, **k: self._call(name, *a, **k)

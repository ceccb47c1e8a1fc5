"""Maintenance lease: writer-vs-compactor mutual exclusion for every
materialized store (VERDICT r7 #2; hardened per r8 ADVICE).

Every store in this package (event index, fingerprint/band/SRP
stores, vector index) does periodic maintenance by snapshot →
staged rewrite → directory swap. That is answer-preserving but NOT
writer-concurrent: rows appended between the snapshot read and the
swap would silently vanish. Until now that hazard was only a
docstring contract ("stop the writer first"). This module makes it a
runtime guarantee: appenders and maintenance jobs serialize on a
per-store lease file, so a concurrent pair either interleaves safely
(the default — the late-comer waits its turn) or fails LOUDLY after
the wait budget, never loses rows silently.

Mechanics — one JSON file, ``<store>/_dn_lease``:

* **acquire** = exclusive create (``O_CREAT|O_EXCL``, atomic on POSIX
  and on rename-consistent object-store adapters). Holder metadata
  (op, pid, timestamp, ttl, nonce) is written into the file for
  diagnostics and steal-detection.
* **contention** = poll until the file disappears; past ``wait_s``,
  raise ``LeaseHeldError`` naming the holder — the loud-refusal path.
* **heartbeat** = while held, a daemon thread refreshes the lease
  file every ``ttl_s/4`` (atomic tmp-file + ``os.replace``), so a
  LIVE holder never goes stale no matter how long its compaction
  runs — the TTL only ever expires a crashed/paused process. Callers
  therefore do not need to size ``ttl_s`` to their job length.
* **crash recovery** = a holder that died keeps nobody out forever:
  a lease whose file has not been refreshed for longer than its
  declared TTL is stale and is stolen by the next acquirer. Stealers
  serialize on a short-lived ``O_EXCL`` guard file and RE-INSPECT
  the lease under it before removing, so two stealers can never both
  proceed and a steal can never remove a FRESH lease recreated by
  the previous guard holder (both the remove-vs-remove race of a
  naive steal and the stat-old/read-new TOCTOU — the inspection
  fstats and reads through one open fd). Staleness is judged by the
  lease file's **mtime**, not the JSON timestamp: a holder that
  crashed mid-write leaves a torn/empty file with no readable
  ``ts``, and mtime still ages it out; on a shared filesystem mtime
  is stamped by the fs server, so writer-side clock skew cannot fake
  freshness. (Reader-side skew vs the fs clock can still mis-age a
  lease by the skew amount — the posture here is posix-local or
  NTP-disciplined mounts; deployments beyond that should point the
  lease at a lock service.)
* **steal detection** = a holder can ask :func:`ensure_lease`
  whether its nonce is still the one on disk; the staged-swap sites
  call it immediately before their directory renames, so a
  pathologically paused holder whose lease was stolen fails loudly
  *before* clobbering the thief's work instead of after.
* **reentrancy** = per-thread: a foreachBatch body that holds the
  store lease may call an append helper that also acquires it (the
  inner acquire is a no-op). Distinct threads/processes exclude each
  other normally.

**Readers (probes) are OUTSIDE the lease** — by design: probes are
the hot path and must not serialize behind maintenance. The staged
swap keeps them safe anyway: a probe sees either the old directory
or the new one, because the swap is two renames and the store is
never partially written in place. The only observable window is the
instant BETWEEN the renames (directory absent); staged-state
recovery (index/store.recover_staged) is lease-aware there — under
a LIVE lease (:func:`lease_is_live`) a reader waits the microseconds
the window lasts and proceeds, or raises the clean retryable
:class:`StoreBusyError`; only a DEAD lease lets a reader repair the
crashed compactor's leftovers. One more retryable shape exists
upstream of this module: Spark binds a scan's FILE LIST at plan
time, so a probe planned against the old directory whose tasks run
after the swap fails loudly with ``FAILED_READ_FILE.FILE_NOT_EXIST``
— a job-aborting (never partial-result) error; re-running the probe
plans against the new directory and succeeds. Readers therefore see
the old answer, the new answer, or one of those two retryable
errors — never partial rows, and never clobber a live maintenance
job (tests/test_lease.py's probe-vs-compaction loop asserts exactly
this disjunction).

Scale posture: one tiny file create + delete per micro-batch or
maintenance run, plus one tmp-rename per ``ttl_s/4`` while held — no
Spark job, no listing. On object stores without atomic
create-exclusive/rename semantics this degrades to best-effort (the
window is the PUT race, milliseconds); a deployment that needs hard
guarantees there should point ``_dn_lease`` at a posix-consistent
path or a lock service — the call sites don't change.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import json
import os
import threading
import time

LEASE_FILE = "_dn_lease"
#: how long a lease file may sit UNREFRESHED before any other
#: acquirer treats the holder as crashed and steals it. The heartbeat
#: refreshes every ttl/4, so live holders of any job length are safe;
#: this is purely the crashed-holder detection horizon.
DEFAULT_TTL_S = 1800.0
#: how long an acquirer polls before failing loudly.
DEFAULT_WAIT_S = 300.0
POLL_S = 0.2

_held = threading.local()


class LeaseHeldError(RuntimeError):
    """Another writer/maintenance job holds the store lease and did
    not release it within the wait budget."""


class LeaseLostError(RuntimeError):
    """This job's lease was stolen out from under it (it stalled past
    its TTL and another job took over). Raised by :func:`ensure_lease`
    before a directory swap so the stall fails loudly instead of
    clobbering the new holder's work."""


class StoreBusyError(RuntimeError):
    """A reader found the store mid-maintenance (directory swap in
    flight under a live lease) and the window didn't close within its
    short wait. Clean and RETRYABLE: no partial data was read, nothing
    was repaired or clobbered — just retry the probe after the
    maintenance job finishes."""


class _Hold:
    __slots__ = ("count", "nonce", "stop", "thread", "lost")

    def __init__(self, nonce: str):
        self.count = 1
        self.nonce = nonce
        self.stop = threading.Event()
        self.thread: threading.Thread | None = None
        self.lost = False


def _lease_path(store_path: str) -> str:
    return os.path.join(os.path.abspath(store_path), LEASE_FILE)


def _read_lease(p: str) -> dict | None:
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, ValueError):
        # vanished between exists-check and read, or torn write from a
        # holder that crashed mid-json.dump. Staleness falls back to
        # the file's mtime so a torn lease cannot lock a store forever.
        return None


def _held_set() -> dict:
    if not hasattr(_held, "paths"):
        _held.paths = {}
    return _held.paths


def _write_lease_payload(f, op: str, ttl_s: float, nonce: str) -> None:
    json.dump(
        {
            "op": op,
            "pid": os.getpid(),
            "ts": time.time(),
            "ttl_s": ttl_s,
            "nonce": nonce,
        },
        f,
    )


def _heartbeat(p: str, op: str, ttl_s: float, hold: _Hold) -> None:
    """Refresh the lease file's mtime/ts every ttl/4 while held. If the
    on-disk nonce ever stops being ours (stolen after a stall), set
    ``hold.lost`` and stop touching the file — the thief owns it now."""
    interval = max(min(ttl_s / 4.0, 60.0), POLL_S)
    while not hold.stop.wait(interval):
        cur = _read_lease(p)
        if cur is not None and cur.get("nonce") != hold.nonce:
            hold.lost = True
            return
        tmp = p + f".hb.{hold.nonce}"
        try:
            with open(tmp, "w") as f:
                _write_lease_payload(f, op, ttl_s, hold.nonce)
            os.replace(tmp, p)
        except OSError:
            with contextlib.suppress(OSError):
                os.remove(tmp)


def _sweep_stale_sidecars(p: str) -> None:
    """Remove sidecars left by a heartbeat that crashed between its
    tmp-write and its os.replace. Harmless junk — they are never
    read — but unbounded accumulation is rude."""
    for leftover in _glob.glob(p + ".hb.*"):
        with contextlib.suppress(OSError):
            if time.time() - os.stat(leftover).st_mtime > DEFAULT_TTL_S:
                os.remove(leftover)


def _inspect_lease(p: str):
    """(age_s, ttl_s, payload|None) judged from ONE inode — fstat and
    read share the open fd, so the age and the TTL can never come from
    two different lease files (a stat-old/read-new TOCTOU let an
    acquirer judge a FRESH lease stale). None when p is missing."""
    try:
        f = open(p, "rb")
    except OSError:
        return None
    with f:
        st = os.fstat(f.fileno())
        try:
            cur = json.loads(f.read().decode())
        except (ValueError, UnicodeDecodeError):
            cur = None  # torn write from a mid-dump crash: age by mtime
    ttl = (
        cur.get("ttl_s", DEFAULT_TTL_S)
        if isinstance(cur, dict)
        else DEFAULT_TTL_S
    )
    return time.time() - st.st_mtime, ttl, cur


#: a stealer that dies INSIDE the steal guard leaves the guard file
#: behind; it is aged out by mtime after this long. Far above the
#: guarded section's microseconds, far below any real TTL.
_STEAL_GUARD_TTL_S = 30.0


def _steal_guarded(p: str) -> bool:
    """Remove the stale lease at ``p`` under the exclusive steal
    guard. Returns True when this caller performed (or confirmed) the
    removal, False when another stealer holds the guard. Within the
    guard, the lease is re-inspected: only a still-stale file is
    removed, so a fresh lease recreated by the previous guard holder
    is never touched."""
    guard = p + ".steal"
    try:
        gfd = os.open(guard, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        # guard busy — or orphaned by a stealer that died holding it
        with contextlib.suppress(OSError):
            if time.time() - os.stat(guard).st_mtime > _STEAL_GUARD_TTL_S:
                os.remove(guard)
        return False
    except OSError:
        return False
    try:
        ins = _inspect_lease(p)
        if ins is None:
            return True  # already stolen/released: contend via O_EXCL
        age, ttl, _cur = ins
        if age > ttl:
            with contextlib.suppress(OSError):
                os.remove(p)
        return True
    finally:
        os.close(gfd)
        with contextlib.suppress(OSError):
            os.remove(guard)


def acquire_lease(
    store_path: str,
    op: str,
    ttl_s: float = DEFAULT_TTL_S,
    wait_s: float | None = None,
) -> str | None:
    """Take the store's maintenance/append lease, waiting up to
    ``wait_s`` (module default) for a live holder to finish. Returns
    an opaque token for :func:`release_lease`, or None when this
    thread already holds the lease (reentrant no-op)."""
    if wait_s is None:
        wait_s = DEFAULT_WAIT_S
    p = _lease_path(store_path)
    held = _held_set()
    if p in held:
        held[p].count += 1
        return None
    os.makedirs(os.path.dirname(p), exist_ok=True)
    nonce = f"{os.getpid()}-{threading.get_ident()}-{time.monotonic_ns()}"
    deadline = time.monotonic() + wait_s
    while True:
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            ins = _inspect_lease(p)
            if ins is None:
                continue  # vanished: holder released — retry create
            age, ttl, cur = ins
            if age > ttl:
                # Stale: holder crashed (a live one heartbeats at
                # ttl/4). Stealing must be mutually exclusive or two
                # stealers race remove-vs-recreate and the slower one
                # deletes the faster one's FRESH lease — so stealers
                # serialize on a short-lived O_EXCL guard file and
                # RE-INSPECT under it before removing. While we hold
                # the guard and p exists, no O_EXCL creator can have
                # replaced p (creation needs p absent), so the remove
                # can only ever hit the inode we just judged stale.
                if _steal_guarded(p):
                    continue  # we removed the stale lease: race O_EXCL
                # another stealer holds the guard — brief wait
                time.sleep(POLL_S)
                continue
            if time.monotonic() >= deadline:
                who = (
                    f"op={cur.get('op')!r} pid={cur.get('pid')} "
                    f"age={age:.0f}s"
                    if cur
                    else f"unknown holder age={age:.0f}s"
                )
                raise LeaseHeldError(
                    f"store {store_path!r} is locked by a concurrent "
                    f"writer/maintenance job ({who}); refusing to "
                    f"proceed — interleaving would risk silent row "
                    f"loss. Retry after it finishes, or remove "
                    f"{LEASE_FILE} if the holder is known dead."
                )
            time.sleep(POLL_S)
            continue
        with os.fdopen(fd, "w") as f:
            _write_lease_payload(f, op, ttl_s, nonce)
        _sweep_stale_sidecars(p)
        hold = _Hold(nonce)
        hold.thread = threading.Thread(
            target=_heartbeat, args=(p, op, ttl_s, hold), daemon=True
        )
        hold.thread.start()
        held[p] = hold
        return nonce


def lease_is_live(store_path: str) -> bool:
    """True iff a lease file exists and is within its TTL (by mtime —
    see the staleness rules in the module docstring). Readers use this
    to tell an ACTIVE maintenance window (wait / retry) from a crashed
    one (safe to run staged-state repair)."""
    p = _lease_path(store_path)
    try:
        age = time.time() - os.stat(p).st_mtime
    except OSError:
        return False
    cur = _read_lease(p)
    ttl = cur.get("ttl_s", DEFAULT_TTL_S) if cur is not None else DEFAULT_TTL_S
    return age <= ttl


def held_by_this_thread(store_path: str) -> bool:
    """True iff the calling thread holds the store lease (reentrant
    holds count). Maintenance code uses this so its own staged-state
    recovery never waits on itself."""
    return _lease_path(store_path) in _held_set()


def ensure_lease(store_path: str) -> None:
    """Raise :class:`LeaseLostError` if this thread's lease on
    ``store_path`` has been stolen (heartbeat observed a foreign
    nonce, or the on-disk nonce no longer matches). No-op when this
    thread does not hold the lease at all — direct unleased callers
    (tests, one-off builds) keep working. Swap sites call this
    immediately before their directory renames."""
    p = _lease_path(store_path)
    hold = _held_set().get(p)
    if hold is None:
        return
    if not hold.lost:
        cur = _read_lease(p)
        if cur is not None and cur.get("nonce") == hold.nonce:
            return
        hold.lost = True
    raise LeaseLostError(
        f"lease on store {store_path!r} was stolen (this job stalled "
        f"past its TTL and another writer took over); aborting before "
        f"the directory swap to avoid clobbering the new holder's "
        f"work. Re-run this job."
    )


def release_lease(store_path: str, token: str | None) -> None:
    """Release a lease taken by :func:`acquire_lease`. A reentrant
    no-op token (None) only decrements the hold count. Never removes
    a lease stolen by someone else (nonce mismatch)."""
    p = _lease_path(store_path)
    held = _held_set()
    hold = held.get(p)
    if hold is not None and (hold.count > 1 or token is None):
        hold.count -= 1
        return
    held.pop(p, None)
    if hold is not None:
        hold.stop.set()
        if hold.thread is not None:
            hold.thread.join(timeout=5.0)
    cur = _read_lease(p)
    if cur is not None and cur.get("nonce") != token:
        return  # expired out from under us and stolen — not ours
    with contextlib.suppress(OSError):
        os.remove(p)


@contextlib.contextmanager
def hold_lease(
    store_path: str,
    op: str,
    ttl_s: float = DEFAULT_TTL_S,
    wait_s: float | None = None,
):
    token = acquire_lease(store_path, op, ttl_s=ttl_s, wait_s=wait_s)
    try:
        yield
    finally:
        release_lease(store_path, token)

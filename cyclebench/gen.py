"""Seeded load generator and the in-Python model of what the pipeline
must produce.

The program under test only ever sees the CSV files written here and a
fixed ``now`` per cycle; everything it commits is checked against the
``Model``. Two properties of the generated loads keep the model exact:

- no code appears twice in one load (the merge keeps every source image
  of a duplicated key, where Snowflake raises, so MASTER would overshoot);
- a changed code always moves to a state it never held (the reference's
  matched-INSERT no-op would leave a code reverting to an old state with
  no current row). States are ``S<k>`` with ``k`` the code's version
  number, so they never repeat per code.

Signatures are order-insensitive: a row count plus the sum of
``crc32`` over a ``|``-joined row string, computed the same way here
(``zlib.crc32``) and in Spark (``F.crc32``).
"""

from __future__ import annotations

import datetime as dt
import random
import zlib

import numpy as np

T0 = dt.datetime(2024, 3, 26, 23, 41, 54)
CYCLE_STEP = dt.timedelta(minutes=1)   # the reference's SCHEDULE = '1 minute'


def crc(s: str) -> int:
    return zlib.crc32(s.encode())


class Model:
    """Current dimension, per-code version history and per-LANDING-version
    signatures, updated by every load the generator hands out."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.codes: list[str] = []          # in creation order
        self.row: dict[str, tuple[int, str, str]] = {}   # code -> (key, name, state)
        self.starts: dict[str, list[dt.datetime]] = {}   # version start times
        self.states: dict[str, list[str]] = {}           # version states
        self.cycles = 0
        self.master_sig = [0, 0]
        # LANDING version -> (row count, crc sum), filled by ``record``
        self.landing: dict[int, tuple[int, int]] = {}
        # LANDING version -> (codes changed, codes created)
        self.landing_cycle: dict[int, tuple[list[str], list[str]]] = {}
        self._pending: tuple[list[str], list[str]] | None = None

    # ---- generation ----------------------------------------------------
    def now(self, cycle: int) -> dt.datetime:
        return T0 + cycle * CYCLE_STEP

    def load(self, n_changes: int, n_new: int) -> list[tuple]:
        """Rows of the next load: ``n_changes`` distinct existing codes
        moved to a new state, plus ``n_new`` fresh codes. Applies the
        load to the model as the cycle that will consume it."""
        if n_changes > len(self.codes):
            raise ValueError(f"{n_changes} changes asked of {len(self.codes)} codes")
        changed = self.rng.sample(self.codes, n_changes)
        first = len(self.codes)
        created = [f"C{first + i:07d}" for i in range(n_new)]
        now = self.now(self.cycles)
        rows = []
        for code in changed:
            key, name, _ = self.row[code]
            state = f"S{len(self.states[code])}"
            rows.append((key, code, name, state))
        for i, code in enumerate(created):
            key = first + i
            rows.append((key, code, f"name{key}", "S0"))
        self.rng.shuffle(rows)
        for key, code, name, state in rows:
            if code in self.row:
                self.master_sig[1] -= crc(self._master_str(code))
            else:
                self.codes.append(code)
                self.starts[code], self.states[code] = [], []
                self.master_sig[0] += 1
            self.row[code] = (key, name, state)
            self.master_sig[1] += crc(self._master_str(code))
            self.starts[code].append(now)
            self.states[code].append(state)
        self._pending = (changed, created)
        self.cycles += 1
        return rows

    def _master_str(self, code: str) -> str:
        key, name, state = self.row[code]
        return f"{key}|{code}|{name}|{state}"

    def record(self, landing_version: int) -> None:
        """Bind the last load to the LANDING version its merge committed."""
        changed, created = self._pending
        self.landing[landing_version] = tuple(self.master_sig)
        self.landing_cycle[landing_version] = (changed, created)
        self._pending = None

    # ---- expected results ----------------------------------------------
    def staging_sig(self) -> tuple[int, int]:
        """(codes, crc sum of ``code|versions|current rows``) — every code
        must have exactly one current row and all its versions."""
        return len(self.codes), sum(
            crc(f"{c}|{len(self.states[c])}|1") for c in self.codes)

    def changes_since(self, offset: int) -> dict[str, int]:
        """Change-row counts per action of every LANDING batch after
        ``offset``: an update is a DELETE+INSERT pair, a new code an INSERT."""
        out = {"INSERT": 0, "DELETE": 0}
        for v, (changed, created) in self.landing_cycle.items():
            if v > offset:
                out["DELETE"] += len(changed)
                out["INSERT"] += len(changed) + len(created)
        return out

    def diff(self, v_from: int, v_to: int) -> dict[str, int]:
        """``snapshot_diff`` counts between two LANDING versions."""
        changed: set[str] = set()
        created: set[str] = set()
        for v, (ch, cr) in self.landing_cycle.items():
            if v_from < v <= v_to:
                changed.update(ch)
                created.update(cr)
        updated = len(changed - created)
        return {"insert": len(created), "update_preimage": updated,
                "update_postimage": updated}

    def lookup(self, codes: list[str]) -> dict[str, str]:
        return {c: self.row[c][2] for c in codes}

    def facts(self, n: int, rng: np.random.Generator):
        """``n`` (code, ts) facts spread over the history built so far, and
        the (matched count, crc sum of ``code|state``) a point-in-time join
        to STAGING must return. Fact times precede the next cycle's
        ``now``, so later cycles cannot change the answer."""
        codes = np.array(self.codes)
        idx = rng.integers(0, len(codes), n)
        span = (self.now(self.cycles - 1) - T0).total_seconds() + 59
        secs = rng.integers(0, int(span), n)
        matched, total = 0, 0
        for i, s in zip(idx.tolist(), secs.tolist()):
            code = self.codes[i]
            ts = T0 + dt.timedelta(seconds=s)
            k = -1
            for j, st in enumerate(self.starts[code]):
                if st <= ts:
                    k = j
                else:
                    break
            if k >= 0:
                matched += 1
                total += crc(f"{code}|{self.states[code][k]}")
        ts = np.datetime64(T0, "us") + secs.astype("timedelta64[s]")
        return codes[idx], ts, (matched, total)

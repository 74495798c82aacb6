"""Seeded Keycloak event generator for the benchmark.

Emits user and admin events in the Firehose wire format the reference
puts on the stream (one JSON object per line), shaped like the raw
Keycloak POJOs the engine parses (``RAW_USER_EVENT_SCHEMA`` /
``RAW_ADMIN_EVENT_SCHEMA`` in ``sources/keycloak.py``).

Properties the store's read and write paths depend on, all fixed by the
seed and the arguments:

- users follow a Zipf law over several realms and clients, so a few
  users own most events (``user_page`` requests hit hot users);
- arrival density grows linearly towards the end of the window, so the
  recent days hold more events (``console_page`` leans recent);
- lines are in arrival order; a ``late_share`` of events carry an event
  time up to ``max_late_h`` hours before their arrival, so a
  micro-batch writes into older dt/hour directories too;
- a ``poison_share`` of extra lines do not parse (truncated objects and
  non-JSON text), which the ingest path must quarantine.

Only the standard library and NumPy are used, so the output is
byte-identical for a seed across runs and machines.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS

REALMS = ["acme", "globex", "initech", "umbrella"]
CLIENTS = ["account-console", "admin-cli", "web-app", "mobile-app", "api-gateway"]
USER_TYPES = [
    ("LOGIN", 0.40),
    ("CODE_TO_TOKEN", 0.20),
    ("REFRESH_TOKEN", 0.18),
    ("LOGOUT", 0.08),
    ("LOGIN_ERROR", 0.08),
    ("REGISTER", 0.03),
    ("UPDATE_PASSWORD", 0.03),
]
OPERATIONS = [("UPDATE", 0.45), ("CREATE", 0.30), ("DELETE", 0.15), ("ACTION", 0.10)]
RESOURCES = [
    ("USER", 0.45),
    ("CLIENT", 0.15),
    ("REALM_ROLE", 0.12),
    ("GROUP", 0.12),
    ("GROUP_MEMBERSHIP", 0.10),
    ("REALM", 0.06),
]


@dataclass(frozen=True)
class Shape:
    """What one generated event set looks like (all counts exact)."""

    n_user: int
    n_admin: int
    n_users: int = 5000          # distinct user ids, Zipf-ranked
    zipf_s: float = 1.1
    days: int = 14
    end_ms: int = 1_767_225_600_000  # 2026-01-01T00:00:00Z, exclusive
    late_share: float = 0.0
    max_late_h: int = 24
    poison_share: float = 0.0


def _uuid(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    out = []
    for hi, lo in raw.tolist():
        h = f"{hi:016x}{lo:016x}"
        out.append(f"{h[:8]}-{h[8:12]}-4{h[13:16]}-a{h[17:20]}-{h[20:32]}")
    return out


def _pick(rng: np.random.Generator, table, n: int) -> list[str]:
    names = [t[0] for t in table]
    p = np.array([t[1] for t in table], dtype=float)
    return [names[i] for i in rng.choice(len(names), size=n, p=p / p.sum())]


def zipf_ranks(rng: np.random.Generator, n_items: int, s: float, n: int) -> np.ndarray:
    """``n`` draws of a rank in ``[0, n_items)`` with P(rank k) ~ 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=float) ** s
    return rng.choice(n_items, size=n, p=w / w.sum())


class Population:
    """The users, their realms and their home clients for one seed."""

    def __init__(self, rng: np.random.Generator, shape: Shape) -> None:
        self.shape = shape
        self.user_ids = _uuid(rng, shape.n_users)
        self.user_realm = [REALMS[i % len(REALMS)] for i in range(shape.n_users)]
        self.user_client = [
            CLIENTS[int(c)] for c in rng.integers(0, len(CLIENTS), shape.n_users)
        ]
        self.realm_ids = {r: f"{r}-realm-id" for r in REALMS}


def _arrivals(rng: np.random.Generator, shape: Shape, n: int) -> np.ndarray:
    """Sorted arrival times with density rising linearly to ``end_ms``."""
    span = shape.days * DAY_MS
    u = np.sort(rng.random(n))
    return (shape.end_ms - span + np.floor(span * np.sqrt(u))).astype(np.int64)


def _event_times(rng: np.random.Generator, shape: Shape, arrival: np.ndarray) -> np.ndarray:
    """Arrival time, or for a ``late_share`` of events up to
    ``max_late_h`` hours earlier (never before the window starts)."""
    late = rng.random(arrival.size) < shape.late_share
    lag = rng.integers(1, shape.max_late_h * HOUR_MS, size=arrival.size)
    start = shape.end_ms - shape.days * DAY_MS
    return np.where(late, np.maximum(arrival - lag, start), arrival).astype(np.int64)


def _ip(rng: np.random.Generator, n: int) -> list[str]:
    a = rng.integers(1, 255, size=(n, 3))
    return [f"10.{x}.{y}.{z}" for x, y, z in a.tolist()]


def user_events(rng, pop: Population, n: int) -> list[dict]:
    shape = pop.shape
    arrival = _arrivals(rng, shape, n)
    times = _event_times(rng, shape, arrival)
    ranks = zipf_ranks(rng, shape.n_users, shape.zipf_s, n)
    types = _pick(rng, USER_TYPES, n)
    ids = _uuid(rng, n)
    sessions = _uuid(rng, n)
    ips = _ip(rng, n)
    out = []
    for i in range(n):
        u = int(ranks[i])
        realm = pop.user_realm[u]
        typ = types[i]
        err = "invalid_user_credentials" if typ.endswith("_ERROR") else None
        out.append(
            {
                "id": ids[i],
                "type": typ,
                "realmId": pop.realm_ids[realm],
                "realmName": realm,
                "clientId": pop.user_client[u],
                "userId": pop.user_ids[u],
                "sessionId": None if err else sessions[i],
                "ipAddress": ips[i],
                "error": err,
                "time": int(times[i]),
                "details": {
                    "auth_method": "openid-connect",
                    "username": f"user{u}@{realm}.example",
                },
            }
        )
    return out


def admin_events(rng, pop: Population, n: int) -> list[dict]:
    shape = pop.shape
    arrival = _arrivals(rng, shape, n)
    times = _event_times(rng, shape, arrival)
    ops = _pick(rng, OPERATIONS, n)
    res = _pick(rng, RESOURCES, n)
    ids = _uuid(rng, n)
    targets = zipf_ranks(rng, shape.n_users, shape.zipf_s, n)
    admins = rng.integers(0, 20, size=n)
    realms = rng.integers(0, len(REALMS), size=n)
    ips = _ip(rng, n)
    out = []
    for i in range(n):
        realm = REALMS[int(realms[i])]
        target = pop.user_ids[int(targets[i])]
        rep = None
        if ops[i] in ("CREATE", "UPDATE"):
            rep = json.dumps({"id": target, "enabled": True}, separators=(",", ":"))
        out.append(
            {
                "id": ids[i],
                "time": int(times[i]),
                "realmId": pop.realm_ids[realm],
                "realmName": realm,
                "operationType": ops[i],
                "resourceType": res[i],
                "resourcePath": f"{res[i].lower()}s/{target}",
                "representation": rep,
                "error": None,
                "authDetails": {
                    "realmId": pop.realm_ids["acme"],
                    "realmName": "acme",
                    "clientId": "admin-cli",
                    "userId": f"admin-{int(admins[i]):02d}",
                    "ipAddress": ips[i],
                },
                "details": None,
            }
        )
    return out


def _dumps(e: dict) -> str:
    return json.dumps(e, separators=(",", ":"))


def wire_lines(rng, events: list[dict], poison_share: float) -> tuple[list[str], int]:
    """Events as JSON lines in arrival order, with poison lines mixed in.

    Returns ``(lines, n_poison)``. Half the poison lines are event
    objects cut short, half are plain text; neither parses against the
    event schema."""
    flags = rng.random(len(events)) < poison_share
    kinds = rng.random(len(events))
    lines: list[str] = []
    n_poison = 0
    for e, bad, kind in zip(events, flags.tolist(), kinds.tolist()):
        s = _dumps(e)
        if bad:
            lines.append(s[: len(s) // 2] if kind < 0.5 else f"not-json {e['id']}")
            n_poison += 1
        lines.append(s)
    return lines, n_poison


@dataclass
class EventSet:
    user: list[dict]
    admin: list[dict]
    user_lines: list[str]
    admin_lines: list[str]
    n_poison: int
    population: Population


def generate(seed: int, shape: Shape) -> EventSet:
    """Every event and wire line for ``seed``; the same seed gives the
    same bytes."""
    rng = np.random.default_rng([seed, 0x4B43])
    pop = Population(rng, shape)
    user = user_events(rng, pop, shape.n_user)
    admin = admin_events(rng, pop, shape.n_admin)
    user_lines, pu = wire_lines(rng, user, shape.poison_share)
    admin_lines, pa = wire_lines(rng, admin, shape.poison_share)
    return EventSet(user, admin, user_lines, admin_lines, pu + pa, pop)


def write_files(lines: list[str], directory: str, n_files: int, prefix: str) -> list[str]:
    """Split ``lines`` (arrival order) into ``n_files`` consecutive files
    whose names sort in arrival order; returns the paths."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, len(lines), n_files + 1).astype(int)
    paths = []
    for k in range(n_files):
        p = os.path.join(directory, f"{prefix}-{k:05d}.json")
        with open(p, "w", encoding="utf-8") as fh:
            chunk = lines[bounds[k] : bounds[k + 1]]
            fh.write("\n".join(chunk) + ("\n" if chunk else ""))
        paths.append(p)
    return paths

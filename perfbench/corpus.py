"""Seeded events generator owned by the benchmark.

The engine's own ``sources.transcripts.synthetic_events`` is not used,
so an engine change cannot silently change the benchmark's input.

The seed changes the rows but not their shape:

* turn count: exactly ``n_events`` rows (one turn per event);
* conversation count: exactly ``n_users`` conversations, each with at
  least one turn (the first ``n_users`` draws are a permutation of all
  users);
* Zipf head: ``event_id`` runs 0..n-1 as in the committed testdata, and
  the transcript derivation sends every event with ``event_id % 5 < 2``
  to entity 0, so the head pick share is fixed at 2/5.

What the seed moves: which conversation each event lands in (and so
turn order and conversation lengths), timestamps, event types (roles),
values and props.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "signup", "error", "purchase"])
HEAD_PICK_SHARE = 0.4  # event_id % 5 < 2 -> entity 0 (sql/templates.py ev0)
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_SPAN_US = 30 * 86_400 * 1_000_000


def events_table(n_events: int, n_users: int, seed: int) -> pa.Table:
    """One events table: same schema as the testdata ``events.parquet``."""
    if not 0 < n_users <= n_events:
        raise ValueError(f"need 0 < n_users <= n_events, got {n_users}, {n_events}")
    rng = np.random.default_rng(seed)
    users = np.concatenate([
        rng.permutation(n_users),
        rng.integers(0, n_users, n_events - n_users),
    ])
    rng.shuffle(users)
    ts = np.sort(rng.integers(0, _SPAN_US, n_events)) + _T0_US
    value = np.round(rng.exponential(50.0, n_events), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def table_digest(table: pa.Table) -> str:
    """Content digest of an events table (column order and row order
    are fixed by the generator, so a plain column-wise hash suffices)."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        for buf in col.buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()


def write_corpus(out_dir: str, n_events: int, n_users: int, seed: int) -> dict:
    """Write ``<out_dir>/events.parquet`` and return its shape record."""
    table = events_table(n_events, n_users, seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return {
        "turns": n_events,
        "conversations": n_users,
        "head_pick_share": HEAD_PICK_SHARE,
        "seed": seed,
        "input_digest": table_digest(table),
    }

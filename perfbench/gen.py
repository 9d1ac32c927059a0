"""Seeded change-feed generator.

Every input the engine sees is written here as parquet; the benchmark
passes the engine nothing else.  One ``FeedSpec`` fixes the properties an
SCD build's cost depends on (key count and skew, versions per key, the
shares of deletes, no-change versions, re-deliveries, late rows and null
key parts, batch size and the ``_loaded_at`` cadence); the seed fixes the
draw.  The same spec and seed always give byte-identical parquet.

Feed schema (one row per change event)::

    tenant string, customer_id long        -- composite business key
    name string, tier string, balance_cents long   -- payload
    deleted_at timestamp                   -- set on delete events
    _updated_at timestamp, _loaded_at timestamp
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

US = 1_000_000
T0_US = 1_704_067_200 * US  # 2024-01-01T00:00:00Z
HISTORY_SPAN_US = 30 * 86_400 * US
TS = pa.timestamp("us", tz="UTC")
TIERS = np.array(["bronze", "silver", "gold", "platinum"], dtype=object)
KEY_COLS = ("tenant", "customer_id")
N_TENANTS = 8
# A late row is a change dated inside the initial-load period, sent in a
# landing batch.  Late rows go only to a LATE_KEY_SHARE of the keys, and
# those keys get no no-change versions: a late row that lands between two
# identical versions makes a full refresh keep a version the incremental
# merge had already collapsed, and the benchmark's incremental ==
# full-refresh gate holds only outside that case.
LATE_KEY_SHARE = 0.25
DIM2_VERSIONS = 2.0  # mean versions per key of the second dimension
FEED_COLS = (
    "tenant", "customer_id", "name", "tier", "balance_cents",
    "deleted_at", "_updated_at", "_loaded_at",
)


@dataclass(frozen=True)
class FeedSpec:
    n_keys: int
    zipf_s: float  # 0 draws keys uniformly; s > 0 gives key rank r weight r**-s
    history_versions: float  # mean versions per key in the initial load
    batches: int  # landing batches after the initial load
    batch_rows: int  # new change events per landing batch
    delete_share: float = 0.05
    nochange_share: float = 0.05  # new version with the previous payload
    redelivery_share: float = 0.03  # an earlier event sent again, later
    late_share: float = 0.03  # late rows, see LATE_KEY_SHARE
    null_key_share: float = 0.02  # keys with a NULL key part
    load_step_s: int = 60  # seconds between landing batches' _loaded_at


@dataclass
class Feed:
    history: pa.Table  # the initial load, all rows at ``history_loaded_at``
    landing: pa.Table  # every landing batch, told apart by ``_loaded_at``
    history_loaded_at_us: int
    batch_loaded_at_us: list[int]  # load instant of landing batch i

    def batch(self, i: int) -> pa.Table:
        loaded = self.landing.column("_loaded_at").cast(pa.int64())
        return self.landing.filter(pc.equal(loaded, self.batch_loaded_at_us[i]))


def _key_weights(n: int, s: float) -> np.ndarray:
    """Key popularity: the key of rank r has weight r**-s.  Hot keys land
    anywhere in the key space, but where is fixed by the key count, not
    drawn from the seed: every seed puts the hot keys in the same buckets
    and tasks, so a run's cost does not hinge on where its seed put them."""
    if s <= 0:
        return np.full(n, 1.0 / n)
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    np.random.default_rng(n).shuffle(w)
    return w / w.sum()


def _keys(rng: np.random.Generator, spec: FeedSpec):
    """Composite keys; a ``null_key_share`` of them carry a NULL part.
    NULL tenants keep their unique customer id; NULL customer ids take
    one key per tenant at most, so every key tuple stays distinct."""
    idx = np.arange(spec.n_keys)
    tenant = np.array([f"t{j:02d}" for j in idx % N_TENANTS], dtype=object)
    cust = idx.astype(np.int64)
    cust_null = np.zeros(spec.n_keys, dtype=bool)
    n_null = int(round(spec.n_keys * spec.null_key_share))
    if n_null:
        picks = rng.choice(spec.n_keys, size=n_null, replace=False)
        by_cust = picks[: min(N_TENANTS, n_null // 2)]
        # distinct tenants for the NULL-customer keys
        by_cust = by_cust[np.unique(by_cust % N_TENANTS, return_index=True)[1]]
        cust_null[by_cust] = True
        tenant[np.setdiff1d(picks, by_cust)] = None
    return tenant, cust, cust_null


def generate(spec: FeedSpec, seed: int) -> Feed:
    rng = np.random.default_rng(seed)
    tenant, cust, cust_null = _keys(rng, spec)
    weights = _key_weights(spec.n_keys, spec.zipf_s)
    late_key = rng.random(spec.n_keys) < LATE_KEY_SHARE
    late_weights = np.where(late_key, weights, 0.0)
    late_weights /= late_weights.sum()
    t_hist = T0_US + HISTORY_SPAN_US
    step = spec.load_step_s * US

    # Change events: every key is inserted during the initial-load period;
    # further history events and landing events draw keys by weight.
    n_hist = max(spec.n_keys, int(spec.n_keys * spec.history_versions))
    n_late = int(round(spec.batches * spec.batch_rows * spec.late_share))
    n_land = spec.batches * spec.batch_rows - n_late
    key = np.concatenate([
        np.arange(spec.n_keys),
        rng.choice(spec.n_keys, size=n_hist - spec.n_keys, p=weights),
        rng.choice(spec.n_keys, size=n_late, p=late_weights),
        rng.choice(spec.n_keys, size=n_land, p=weights),
    ])
    t = np.concatenate([
        # inserts sit in the first tenth of history, so a late change
        # (dated later in history) always has a version before it
        T0_US + rng.integers(0, HISTORY_SPAN_US // 10, size=spec.n_keys),
        T0_US + rng.integers(0, HISTORY_SPAN_US, size=n_hist - spec.n_keys),
        T0_US + rng.integers(HISTORY_SPAN_US // 10, HISTORY_SPAN_US, size=n_late),
        t_hist + rng.integers(0, spec.batches * step, size=n_land),
    ])
    batch = np.concatenate([
        np.full(n_hist, -1),
        rng.integers(0, spec.batches, size=n_late),
        (t[n_hist + n_late:] - t_hist) // step,
    ])
    # One event per (key, instant): the generator never emits two
    # different versions at the same _updated_at.
    _, first = np.unique(np.stack([key, t]), axis=1, return_index=True)
    key, t, batch = key[first], t[first], batch[first]
    order = np.lexsort((t, key))
    key, t, batch = key[order], t[order], batch[order]
    n = len(key)

    new_key = np.ones(n, dtype=bool)
    new_key[1:] = key[1:] != key[:-1]
    u = rng.random(n)
    is_delete = ~new_key & (u < spec.delete_share)
    is_nochange = (
        ~new_key & ~is_delete & ~late_key[key]
        & (u < spec.delete_share + spec.nochange_share)
    )
    # Payload: fresh on updates, carried from the key's previous version
    # on deletes and no-change versions (a key's first event is fresh).
    fresh = ~(is_delete | is_nochange)
    src = np.maximum.accumulate(np.where(fresh, np.arange(n), 0))
    name_id = rng.integers(0, 1_000_000, size=n)[src]
    tier = TIERS[rng.integers(0, len(TIERS), size=n)][src]
    balance = rng.integers(0, 10_000_000, size=n, dtype=np.int64)[src]
    loaded = np.where(batch < 0, t_hist, t_hist + (batch + 1) * step)

    # Re-deliveries: an earlier event sent again 1-3 batches later.
    n_redeliver = int(round(spec.batches * spec.batch_rows * spec.redelivery_share))
    if spec.batches and n_redeliver:
        again = rng.choice(n, size=n_redeliver, replace=False)
        re_batch = np.minimum(batch[again] + rng.integers(1, 4, size=n_redeliver),
                              spec.batches - 1)
        keep = re_batch > batch[again]
        again, re_batch = again[keep], re_batch[keep]
    else:
        again = np.zeros(0, dtype=np.int64)
        re_batch = again
    rows = np.concatenate([np.arange(n), again])
    loaded = np.concatenate([loaded, t_hist + (re_batch + 1) * step])

    k = key[rows]
    deleted = np.where(is_delete[rows], t[rows], 0)
    table = pa.table({
        "tenant": pa.array(tenant[k], type=pa.string()),
        "customer_id": pa.array(cust[k], mask=cust_null[k], type=pa.int64()),
        "name": pa.array(name_id[rows]).cast(pa.string()),
        "tier": pa.array(tier[rows], type=pa.string()),
        "balance_cents": pa.array(balance[rows], type=pa.int64()),
        "deleted_at": pa.array(deleted, mask=~is_delete[rows], type=pa.int64()).cast(TS),
        "_updated_at": pa.array(t[rows], type=pa.int64()).cast(TS),
        "_loaded_at": pa.array(loaded, type=pa.int64()).cast(TS),
    })
    # Rows land in load order; within a load, in a seeded shuffle.
    perm = np.lexsort((rng.random(len(rows)), loaded))
    table = table.take(pa.array(perm))
    is_hist = pa.array(loaded[perm] == t_hist)
    return Feed(
        history=table.filter(is_hist),
        landing=table.filter(pc.invert(is_hist)),
        history_loaded_at_us=t_hist,
        batch_loaded_at_us=[t_hist + (b + 1) * step for b in range(spec.batches)],
    )


def second_dimension(spec: FeedSpec, seed: int) -> pa.Table:
    """A second SCD2 feed over the same key space, payload disjoint from
    the first (``segment``, ``credit_limit``), for the temporal join."""
    rng = np.random.default_rng(seed + 7919)
    tenant, cust, cust_null = _keys(np.random.default_rng(seed), spec)
    n = int(spec.n_keys * DIM2_VERSIONS)
    key = np.concatenate([np.arange(spec.n_keys),
                          rng.integers(0, spec.n_keys, size=n - spec.n_keys)])
    t = T0_US + rng.integers(0, HISTORY_SPAN_US + spec.batches * spec.load_step_s * US,
                             size=n)
    _, first = np.unique(np.stack([key, t]), axis=1, return_index=True)
    key, t = key[first], t[first]
    return pa.table({
        "tenant": pa.array(tenant[key], type=pa.string()),
        "customer_id": pa.array(cust[key], mask=cust_null[key], type=pa.int64()),
        "segment": pa.array(rng.integers(0, 12, size=len(key))).cast(pa.string()),
        "credit_limit": pa.array(rng.integers(0, 50_000, size=len(key)), type=pa.int64()),
        "_updated_at": pa.array(t, type=pa.int64()).cast(TS),
    })


def facts(spec: FeedSpec, seed: int, n: int) -> pa.Table:
    """An order stream keyed like the dimension, for the as-of join."""
    rng = np.random.default_rng(seed + 104729)
    tenant, cust, cust_null = _keys(np.random.default_rng(seed), spec)
    key = rng.choice(spec.n_keys, size=n, p=_key_weights(spec.n_keys, spec.zipf_s))
    t = T0_US + rng.integers(0, HISTORY_SPAN_US + spec.batches * spec.load_step_s * US,
                             size=n)
    return pa.table({
        "order_id": pa.array(np.arange(n, dtype=np.int64)),
        "tenant": pa.array(tenant[key], type=pa.string()),
        "customer_id": pa.array(cust[key], mask=cust_null[key], type=pa.int64()),
        "amount_cents": pa.array(rng.integers(1, 100_000, size=n), type=pa.int64()),
        "ordered_at": pa.array(t, type=pa.int64()).cast(TS),
    })


def parquet_bytes(table: pa.Table) -> int:
    """Size of ``table`` written as one parquet file, without writing it."""
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().size


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)

"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed. The engine receives only
what these functions write: parquet files of change events, seed
transcripts, and the catalog source tables.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

from nifi_tekst_bundle_spark import fixtures

BASE_TS = fixtures.BASE_TS

EVENT_ARROW = pa.schema(
    [
        ("lsn", pa.int64()),
        ("batch_id", pa.string()),
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("src_conv_id", pa.string()),
        ("src_turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
        ("extra", pa.map_(pa.string(), pa.string())),
        ("schema_version", pa.int32()),
    ]
)

SEED_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

_ROLES = np.array(fixtures.ROLES, dtype=object)
_TOOLS = np.array(fixtures.TOOLS, dtype=object)  # None entries: no tool

# Move-free event mix of ``fixtures.make_event_log``: its insert, update,
# delete and keyless-insert shares (45/25/10/8 of 100, the remaining 12
# being moves), renormalised over 88.
MIX = {"insert": 45 / 88, "update": 25 / 88, "delete": 10 / 88, "keyless": 8 / 88}
DUP_INSERT = 0.15  # the fixture's share of keyed inserts followed by a same-key insert
INSERT_TURNS = 39  # the fixture's keyed inserts pick turn_idx in 1..39
SEED_MAX_TURNS = 12  # fixtures.make_seed_transcripts: 1..12 turns per conversation


def _phrases(rng: np.random.Generator, n: int) -> np.ndarray:
    """A vocabulary of ``n`` texts shaped like ``fixtures._text``: 3 to 11
    words and one of its Unicode tokens; rows pick from it by index."""
    words = np.array(fixtures.WORDS, dtype=object)
    bits = fixtures.UNICODE_BITS
    lens = rng.integers(3, 12, n)
    return np.array(
        [" ".join([*words[rng.integers(0, len(words), k)], bits[i % len(bits)]])
         for i, k in enumerate(lens)],
        dtype=object,
    )


def conv_ids(ids: np.ndarray) -> np.ndarray:
    return np.char.add("conv-", np.char.zfill(ids.astype(str), 6)).astype(object)


def _ts(lsn: np.ndarray) -> pa.Array:
    base = int((BASE_TS - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + lsn * 1_000_000, type=pa.int64()).cast(pa.timestamp("us"))


def seed_table(seed: int, n_convs: int) -> pa.Table:
    """Pre-existing transcripts shaped like ``fixtures.make_seed_transcripts``:
    1 to 12 turns for each of ``n_convs`` conversations, role by turn
    number, every payload column set."""
    rng = np.random.default_rng(seed)
    n_turns = rng.integers(1, SEED_MAX_TURNS + 1, n_convs)
    n = int(n_turns.sum())
    conv = np.repeat(np.arange(n_convs), n_turns)
    turn = (np.arange(n) - np.repeat(np.cumsum(n_turns) - n_turns, n_turns) + 1).astype(np.int32)
    text = _phrases(rng, 512)[rng.integers(0, 512, n)]
    return pa.table(
        {
            "conv_id": pa.array(conv_ids(conv), pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(_ROLES[turn % 4], pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(_TOOLS[rng.integers(0, len(_TOOLS), n)], pa.string()),
            "ts": _ts(-(np.arange(n, 0, -1))),
        },
        schema=SEED_ARROW,
    )


def bulk_log(seed: int, n_events: int, seed_keys: pa.Table) -> pa.Table:
    """A move-free change log in the event mix of ``fixtures.make_event_log``
    (``MIX``) with uniform keys: keyed inserts pick a conversation of the
    seed and a turn in 1..39, and ``DUP_INSERT`` of them are followed by a
    second insert of the same key; updates and deletes pick a key of
    ``seed_keys`` (its conv_id and turn_idx columns); partial updates set
    the fixture's column subsets (text, text+tool, tool or role); keyless
    inserts leave the key to the engine. Lsns are 1..n_events in row
    order, and every event carries ``ts`` = base + lsn seconds."""
    rng = np.random.default_rng(seed)
    r = rng.random(n_events)
    cut = np.cumsum([MIX["insert"], MIX["update"], MIX["delete"]])
    kind = np.searchsorted(cut, r, side="right")  # 0 insert, 1 update, 2 delete, 3 keyless
    # each keyed insert may bring a duplicate right behind it
    dup = (kind == 0) & (rng.random(n_events) < DUP_INSERT)
    src = np.repeat(np.arange(n_events), 1 + dup)[:n_events]
    is_dup = np.zeros(n_events, dtype=bool)
    is_dup[1:] = src[1:] == src[:-1]
    kind = kind[src]

    seed_conv = np.array(seed_keys.column("conv_id").to_pylist(), dtype=object)
    seed_turn = np.array(seed_keys.column("turn_idx").to_pylist(), dtype=np.int32)
    convs = np.unique(seed_conv)
    pick = rng.integers(0, len(seed_conv), n_events)[src]
    conv = np.where(kind == 0, convs[rng.integers(0, len(convs), n_events)][src],
                    seed_conv[pick]).astype(object)
    turn = np.where(kind == 0, rng.integers(1, INSERT_TURNS + 1, n_events)[src],
                    seed_turn[pick]).astype(np.int32)
    keyless = kind == 3
    conv[keyless] = None
    turn[keyless] = 1

    n = n_events
    op = np.array(["insert", "update", "delete", "insert"], dtype=object)[kind]
    text = _phrases(rng, 4096)[rng.integers(0, 4096, n)]
    role = _ROLES[rng.integers(0, 4, n)]
    tool = _TOOLS[rng.integers(0, len(_TOOLS), n)]
    # the fixture's duplicate insert: assistant turn, no tool
    role[is_dup] = "assistant"
    tool[is_dup] = None
    role[keyless] = "user"
    tool[keyless] = None
    # partial update: text if w < .6, tool "patched" if .3 < w < .8, role "tool" if w >= .8
    w = rng.random(n)
    upd = kind == 1
    text[upd & (w >= 0.6)] = None
    tool[upd] = np.where((w > 0.3) & (w < 0.8), "patched", None)[upd]
    role[upd] = np.where(w >= 0.8, "tool", None)[upd]
    dele = kind == 2
    for col in (text, role, tool):
        col[dele] = None
    lsn = np.arange(1, n + 1, dtype=np.int64)
    return pa.table(
        {
            "lsn": pa.array(lsn),
            "batch_id": pa.array(np.full(n, "bulk", dtype=object), pa.string()),
            "op": pa.array(op, pa.string()),
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "src_conv_id": pa.nulls(n, pa.string()),
            "src_turn_idx": pa.nulls(n, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": _ts(lsn),
            "extra": pa.nulls(n, EVENT_ARROW.field("extra").type),
            "schema_version": pa.array(np.ones(n, dtype=np.int32)),
        },
        schema=EVENT_ARROW,
    )


# ---------- catalog source tables ----------

_EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
_LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
_DOC_WORDS = np.array(
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window data column join small customer query order group big "
    "stream filter vector".split()
)


def catalog_tables(seed: int, n_events: int, n_docs: int, n_vecs: int, dim: int = 64):
    """The three source tables the ``catalog_mix`` queries read, with the
    column names and value domains the catalog queries expect: ``events``
    (web events), ``documents`` (text corpus with planted near-duplicates)
    and ``embeddings`` (labelled float vectors)."""
    rng = np.random.default_rng(seed)
    base = int((BASE_TS - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    eid = np.arange(n_events, dtype=np.int64)
    etype = _EVENT_TYPES[rng.integers(0, 5, n_events)]
    user = rng.integers(0, max(1, n_events // 67), n_events)
    value = np.round(rng.gamma(2.0, 10.0, n_events), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
    ).astype(object)
    ts = base + np.sort(rng.integers(0, 30 * 86_400, n_events)) * 1_000_000
    events = pa.table(
        {
            "event_id": pa.array(eid),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(etype.astype(object), pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, pa.string()),
        }
    )
    nwords = rng.integers(8, 80, n_docs)
    text = np.array(
        [" ".join(_DOC_WORDS[rng.integers(0, len(_DOC_WORDS), k)]) for k in nwords],
        dtype=object,
    )
    # every 10th document repeats an earlier one: the dedup queries find pairs
    dup = np.arange(n_docs) % 10 == 9
    text[dup] = text[np.nonzero(dup)[0] - 5]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n_docs)].astype(object), pa.string()),
            "source": pa.array(
                np.char.add("src", (np.arange(n_docs) % 20).astype(str)).astype(object),
                pa.string(),
            ),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    centers = rng.normal(0, 0.2, (10, dim))
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    vecs = (centers[label] + rng.normal(0, 0.1, (n_vecs, dim))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}

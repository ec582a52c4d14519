"""Seeded input generators for the KG-construction benchmark.

Every generator is a pure function of its seed and size arguments and writes
plain parquet with pyarrow, so the program under test only ever sees the
files. The same seed gives byte-identical files; another seed gives other
files.

Transcripts follow the shape of ``biocypher_spark.transcripts``: two hot
conversations hold 20 % of the turns, every 37th turn (on average) carries a
quote/newline/semicolon filler, and each turn mentions either two proteins
("... interacts with ...") or a protein and a disease ("... is linked to
..."). Protein mentions use three surface variants (``PROT7``, ``prot-7``,
``Protein 7``), which normalize to two keys (``prot7``, ``protein7``) that the
linker merges.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TS0 = 1704067200  # 2024-01-01T00:00:00Z
HOT_SHARE = 0.2
TURNS_PER_CONV = 16
FILLER = "it's a 'quoted;\nmulti\rline' note "

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

PROPS = pa.map_(pa.string(), pa.string())
NODE_SCHEMA = pa.schema(
    [("id", pa.string()), ("input_label", pa.string()), ("props", PROPS), ("_seq", pa.int64())]
)
EDGE_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("src", pa.string()),
        ("tgt", pa.string()),
        ("input_label", pa.string()),
        ("props", PROPS),
        ("_seq", pa.int64()),
    ]
)


def _write(table: pa.Table, path: str) -> int:
    """Write one parquet file deterministically; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _str(a: np.ndarray) -> pa.Array:
    return pa.array(a).cast(pa.string())


def _join(*parts) -> pa.Array:
    """Element-wise concatenation of string arrays and scalars."""
    return pc.binary_join_element_wise(*parts, "")


def transcripts_table(seed: int, n_turns: int, n_proteins: int, n_diseases: int) -> pa.Table:
    """``n_turns`` transcript rows; (conv_id, turn_idx) is unique."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_turns, dtype=np.int64)
    hot = rng.random(n_turns) < HOT_SHARE
    hot_side = rng.integers(0, 2, n_turns)
    conv_no = i // TURNS_PER_CONV
    conv = pc.if_else(pa.array(hot), _join("hot", _str(hot_side)), _join("c", _str(conv_no)))
    # a hot conversation numbers its turns in arrival order; the others
    # number them within their block of TURNS_PER_CONV rows
    hot_rank = np.zeros(n_turns, dtype=np.int64)
    for side in (0, 1):
        mask = hot & (hot_side == side)
        hot_rank[mask] = np.arange(int(mask.sum()))
    turn_idx = np.where(hot, hot_rank, i % TURNS_PER_CONV).astype(np.int32)
    role = np.where(turn_idx % 5 == 4, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    tool_no = rng.integers(0, 5, n_turns)
    pk = rng.integers(1, n_proteins + 1, n_turns)
    pk2 = rng.integers(1, n_proteins + 1, n_turns)
    dk = rng.integers(1, n_diseases + 1, n_turns)
    variant = rng.integers(0, 3, n_turns)
    filler = rng.random(n_turns) < 1 / 37
    interaction = rng.random(n_turns) < 1 / 3
    s1 = _join(pa.array(np.array(["PROT", "prot-", "Protein "])[variant]), _str(pk))
    head = pa.array(np.where(filler, FILLER, ""))
    texts = pc.if_else(
        pa.array(interaction),
        _join(head, "we think ", s1, " interacts with PROT", _str(pk2), " today"),
        _join(head, "report: ", s1, " is linked to DIS", _str(dk), " in assay"),
    )
    tool = pc.if_else(pa.array(role == "tool"), _join("tool_", _str(tool_no)), pa.scalar(None, pa.string()))
    ts = (TS0 + conv_no * 3600 + turn_idx.astype(np.int64) * 60) * 1_000_000
    return pa.table(
        {
            "conv_id": conv,
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": texts,
            "tool": tool,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def write_transcripts(path: str, seed: int, n_turns: int, n_proteins: int, n_diseases: int,
                      n_files: int = 1) -> int:
    """Write ``n_turns`` turns as ``n_files`` consecutive slices under
    ``path`` (``part-00000.parquet``, ...). Returns the total input bytes."""
    table = transcripts_table(seed, n_turns, n_proteins, n_diseases)
    total, per = 0, -(-n_turns // n_files)
    for f in range(n_files):
        total += _write(table.slice(f * per, per), os.path.join(path, f"part-{f:05d}.parquet"))
    return total


def _json_name(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def facade_call_tables(seed: int, call: int, rows: int, n_ids: int, dup_share: float = 0.05) -> tuple[pa.Table, pa.Table]:
    """Staged node and edge frames for the ``call``-th facade call.

    Node ids are drawn from a pool of ``n_ids`` proteins and diseases, so ids
    repeat across calls; ``dup_share`` of the rows of each call repeat an
    earlier row of the same call. Edges connect drawn ids and carry ids of
    their own, drawn the same way, so edge ids repeat across calls too."""
    rng = np.random.default_rng([seed, 7919, call])
    n_base = rows - int(rows * dup_share)
    ids = rng.integers(0, n_ids, n_base)
    ids = np.concatenate([ids, rng.choice(ids, rows - n_base)])
    is_dis = ids % 10 == 0
    node_id = [f"disease:d{k}" if d else f"protein:p{k}" for k, d in zip(ids, is_dis)]
    node_label = np.where(is_dis, "disease", "protein")
    names = [f"{'DIS' if d else 'PROT'}{k}" for k, d in zip(ids, is_dis)]
    seq0 = call * rows * 4
    nodes = pa.table(
        {
            "id": pa.array(node_id, pa.string()),
            "input_label": pa.array(node_label, pa.string()),
            "props": pa.array([[("name", _json_name(n))] for n in names], PROPS),
            "_seq": pa.array(np.arange(seq0, seq0 + rows), pa.int64()),
        },
        schema=NODE_SCHEMA,
    )
    a = rng.integers(0, n_ids, n_base)
    b = rng.integers(0, n_ids, n_base)
    pick = rng.integers(0, n_base, rows - n_base)
    a, b = np.concatenate([a, a[pick]]), np.concatenate([b, b[pick]])
    to_dis = b % 10 == 0
    src = [f"protein:p{k}" for k in a]
    tgt = [f"disease:d{k}" if d else f"protein:p{k}" for k, d in zip(b, to_dis)]
    label = np.where(to_dis, "protein_disease", "protein_protein")
    turns = rng.integers(1, 50, rows)
    edges = pa.table(
        {
            "id": pa.array([f"{s}_{t}" for s, t in zip(src, tgt)], pa.string()),
            "src": pa.array(src, pa.string()),
            "tgt": pa.array(tgt, pa.string()),
            "input_label": pa.array(label, pa.string()),
            "props": pa.array([[("turns", str(t))] for t in turns], PROPS),
            "_seq": pa.array(np.arange(seq0 + 2 * rows, seq0 + 3 * rows), pa.int64()),
        },
        schema=EDGE_SCHEMA,
    )
    return nodes, edges


def write_facade_calls(path: str, seed: int, calls: int, rows: int, n_ids: int) -> int:
    """Write ``calls`` pairs of staged node/edge parquet files under
    ``path/call_NN/{nodes,edges}.parquet``. Returns the total input bytes."""
    total = 0
    for c in range(calls):
        nodes, edges = facade_call_tables(seed, c, rows, n_ids)
        total += _write(nodes, os.path.join(path, f"call_{c:02d}", "nodes.parquet"))
        total += _write(edges, os.path.join(path, f"call_{c:02d}", "edges.parquet"))
    return total

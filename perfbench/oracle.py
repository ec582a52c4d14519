"""Reference outputs computed with DuckDB straight from the generated parquet,
and checks of the program's Neo4j-admin-import CSV layout against them.

The references use the generator's ground truth, not the program: an entity
is a label plus the number in its surface (``PROT7``, ``prot-7`` and
``Protein 7`` are protein 7). With linking, an entity's node id is
``label:<min normalized surface of the entity>``; the stream links by
identity, so there every normalized surface is its own node.
"""

from __future__ import annotations

import csv
import glob
import io
import os

import duckdb

NODE_FILES = {"protein": "Protein", "disease": "Disease"}
EDGE_FILES = {"protein_protein": "INTERACTS_WITH", "protein_disease": "LINKED_TO"}

_MENTIONS_SQL = r"""
WITH turns AS (
    SELECT conv_id, turn_idx, text FROM read_parquet('{glob}')
), raw AS (
    SELECT conv_id, turn_idx, 'protein' AS label,
           unnest(regexp_extract_all(text, '(?:PROT|prot-|Protein )\d+')) AS surface FROM turns
    UNION ALL
    SELECT conv_id, turn_idx, 'disease' AS label,
           unnest(regexp_extract_all(text, 'DIS\d+')) AS surface FROM turns
)
SELECT conv_id, turn_idx, label, surface,
       regexp_replace(lower(surface), '[^a-z0-9]', '', 'g') AS nkey,
       regexp_extract(surface, '(\d+)$', 1) AS num
FROM raw
"""


def transcript_reference(input_dir: str, linked: bool = True) -> dict:
    """Expected node and edge ids of the KG built from a transcripts dir.

    Returns ``{"nodes": {label: set(ids)}, "triples": set((subj, pred, obj))}``
    with ``pred`` the schema's input label (``protein_protein`` /
    ``protein_disease``) and ids namespaced ``label:canonical``."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TEMP TABLE m AS " + _MENTIONS_SQL.format(glob=os.path.join(input_dir, "*.parquet")))
        if linked:
            con.execute(
                "CREATE TEMP TABLE canon AS SELECT label, num, min(nkey) AS cid FROM m GROUP BY label, num"
            )
            con.execute(
                "CREATE TEMP TABLE e AS SELECT DISTINCT m.conv_id, m.turn_idx, m.label, "
                "m.label || ':' || c.cid AS nid FROM m JOIN canon c USING (label, num)"
            )
        else:
            con.execute(
                "CREATE TEMP TABLE e AS SELECT DISTINCT conv_id, turn_idx, label, label || ':' || nkey AS nid FROM m"
            )
        nodes: dict[str, set] = {}
        for label, nid in con.execute("SELECT DISTINCT label, nid FROM e").fetchall():
            nodes.setdefault(label, set()).add(nid)
        # within-turn pairs of distinct entities; a protein-disease pair
        # points from the protein, a protein pair from the smaller id
        pairs = con.execute(
            """
            SELECT DISTINCT
                CASE WHEN a.label = b.label THEN least(a.nid, b.nid) ELSE a.nid END,
                a.label || '_' || b.label,
                CASE WHEN a.label = b.label THEN greatest(a.nid, b.nid) ELSE b.nid END
            FROM e a JOIN e b USING (conv_id, turn_idx)
            WHERE a.label = 'protein' AND a.nid <> b.nid AND (b.label = 'disease' OR a.nid < b.nid)
            """
        ).fetchall()
        surfaces = con.execute("SELECT count(DISTINCT nkey) FROM m").fetchone()[0]
        # rows each file would write on its own (nodes plus edges): the
        # stream's per-batch writer input before cross-batch dedup
        per_file = con.execute(
            """
            WITH f AS (
                SELECT regexp_extract(filename, '[^/]+$') AS file, conv_id, turn_idx
                FROM read_parquet('{glob}', filename = true)
            ), ef AS (SELECT DISTINCT f.file, e.* FROM e JOIN f USING (conv_id, turn_idx))
            SELECT (SELECT count(*) FROM (SELECT DISTINCT file, nid FROM ef))
                 + (SELECT count(*) FROM (
                       SELECT DISTINCT a.file, a.nid, b.nid FROM ef a JOIN ef b USING (file, conv_id, turn_idx)
                       WHERE a.label = 'protein' AND a.nid <> b.nid AND (b.label = 'disease' OR a.nid < b.nid)))
            """.format(glob=os.path.join(input_dir, "*.parquet"))
        ).fetchone()[0]
        return {"nodes": nodes, "triples": set(pairs), "distinct_surfaces": surfaces, "per_file_rows": per_file}
    finally:
        con.close()


def facade_reference(call_dirs: list[str]) -> dict:
    """Expected surviving node ids and edge triples after one facade call per
    staged dir in ``call_dirs``: every distinct id is written once, whichever
    call first had it."""
    con = duckdb.connect()
    try:
        node_files = [os.path.join(d, "nodes.parquet") for d in call_dirs]
        edge_files = [os.path.join(d, "edges.parquet") for d in call_dirs]
        nodes: dict[str, set] = {}
        for label, nid in con.execute(
            "SELECT DISTINCT input_label, id FROM read_parquet(?)", [node_files]
        ).fetchall():
            nodes.setdefault(label, set()).add(nid)
        triples = set(
            con.execute("SELECT DISTINCT src, input_label, tgt FROM read_parquet(?)", [edge_files]).fetchall()
        )
        rows_in = con.execute(
            "SELECT (SELECT count(*) FROM read_parquet(?)) + (SELECT count(*) FROM read_parquet(?))",
            [node_files, edge_files],
        ).fetchone()[0]
        return {"nodes": nodes, "triples": triples, "rows_in": rows_in}
    finally:
        con.close()


def _read_layout(out_dir: str, file_label: str) -> tuple[list[str], list[list[str]]]:
    """Header columns and parsed data rows of one label's CSV parts."""
    with open(os.path.join(out_dir, f"{file_label}-header.csv"), encoding="utf-8") as fh:
        header = fh.read().strip().split(";")
    rows: list[list[str]] = []
    for part in sorted(glob.glob(os.path.join(out_dir, f"{file_label}-part*.csv"))):
        with open(part, encoding="utf-8", newline="") as fh:
            rows.extend(r for r in csv.reader(io.StringIO(fh.read()), delimiter=";", quotechar="'") if r)
    return header, rows


def check_layout(out_dir: str, ref: dict, exact: bool) -> list[str]:
    """Compare the CSV layout in ``out_dir`` with a reference. Always checks
    line counts per label and that every data line has as many columns as
    its header; with ``exact`` also the node-id sets and the distinct
    (subj, pred, obj) set. Returns a list of mismatches (empty when
    correct)."""
    problems: list[str] = []
    for label, file_label in NODE_FILES.items():
        want = ref["nodes"].get(label, set())
        try:
            header, rows = _read_layout(out_dir, file_label)
        except FileNotFoundError:
            if want:
                problems.append(f"{file_label}: no header file")
            continue
        bad = sum(len(r) != len(header) for r in rows)
        if bad:
            problems.append(f"{file_label}: {bad} lines disagree with the {len(header)}-column header")
        if len(rows) != len(want):
            problems.append(f"{file_label}: {len(rows)} lines, expected {len(want)}")
        if exact and {r[0] for r in rows} != want:
            problems.append(f"{file_label}: node ids differ from the reference")
    got_triples = set()
    for input_label, file_label in EDGE_FILES.items():
        want_n = sum(1 for t in ref["triples"] if t[1] == input_label)
        try:
            header, rows = _read_layout(out_dir, file_label)
        except FileNotFoundError:
            if want_n:
                problems.append(f"{file_label}: no header file")
            continue
        bad = sum(len(r) != len(header) for r in rows)
        if bad:
            problems.append(f"{file_label}: {bad} lines disagree with the {len(header)}-column header")
        if len(rows) != want_n:
            problems.append(f"{file_label}: {len(rows)} lines, expected {want_n}")
        start, end = header.index(":START_ID"), header.index(":END_ID")
        got_triples |= {(r[start], input_label, r[end]) for r in rows if len(r) == len(header)}
    if exact and got_triples != ref["triples"]:
        problems.append(
            f"triples differ: {len(got_triples - ref['triples'])} unexpected, "
            f"{len(ref['triples'] - got_triples)} missing"
        )
    return problems


def layout_stats(out_dir: str) -> dict:
    """Lines, part files and bytes of the CSV parts in ``out_dir``."""
    parts = glob.glob(os.path.join(out_dir, "*-part*.csv"))
    lines = 0
    for p in parts:
        with open(p, "rb") as fh:
            lines += sum(1 for _ in fh)
    return {"lines": lines, "part_files": len(parts), "csv_bytes": sum(os.path.getsize(p) for p in parts)}

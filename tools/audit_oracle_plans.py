"""EXPLAIN every DuckDB oracle and flag plural-sided cross products.

The twin-side counterpart of tools/plan_audit.py. Round-8 x64 sweep
finding: when DuckDB INLINES a CTE (its default), the estimated
cardinality of the CTE's output can collapse to ~1 on parquet views
(EC:0 scans), and the join-order optimizer then replaces an EQUI-join
with CROSS_PRODUCT + FILTER — market_basket_lift's twin went from 25 s
(AS MATERIALIZED, hash joins) to >20 min of 20-thread grinding at x64.
EXPLAIN is plan-only (no execution), so auditing all ~330 twins takes
~2 s; any CROSS_PRODUCT whose BOTH inputs are plural-row subtrees is a
latent x64+ time bomb even when small fixtures hide it.

Round-9 upgrade (ADVICE item 3): the old global-count heuristic
(n_cross > n_ungrouped_agg) could be offset by an unrelated scalar
aggregate elsewhere in the plan. DuckDB 1.0 has no JSON EXPLAIN, so
this parses the ASCII box tree into a real operator tree and checks
EACH cross-product's own input subtrees for a bounded-cardinality
operator (scalar aggregate, LIMIT, constant scan). The same rule
covers BLOCKWISE_NL_JOIN (the round-8 SCD2 trap): an NL join is fine
against a bounded side (codebook / scalar total / literal grid),
quadratic against a plural one.

tests/test_registry.py runs `audit_all` over the full registry as a
lint (zero unallowlisted flags) and proves the checker red on a seeded
plural x plural cross product — the PLAN_BUDGETS.json discipline
applied to the twin side.

Usage: python tools/audit_oracle_plans.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distgrep_spark.sources.catalog import TABLES

# Operators whose output cardinality is bounded by a constant regardless
# of input scale — a cross product against one of these is a broadcast,
# not a blowup. COLUMN_DATA_SCAN is an inline VALUES literal (codebooks,
# parameter grids); DUMMY_SCAN is a 0-column 1-row source.
_BOUNDED_OPS = {"UNGROUPED_AGGREGATE", "LIMIT", "STREAMING_LIMIT",
                "DUMMY_SCAN", "COLUMN_DATA_SCAN", "EMPTY_RESULT"}
_NL_OPS = {"CROSS_PRODUCT", "BLOCKWISE_NL_JOIN"}

# Justified plural-sided NL joins. Every entry says WHY the shape is the
# design, not a trap (the SP_WINDOW_ALLOWLIST discipline); all were
# green in the zero-exclusion x64 sweep (X64_SWEEP.json).
NL_ALLOWLIST: dict[str, str] = {
    "stats_ab_ztest": "arm-A x arm-B pairing: both sides are GROUP BY (user_id % 2) rollups filtered to one grp each — exactly 1 row/side by the key domain, invisible to the bounded-op walk because HASH_GROUP_BY output size is data-dependent in general",
}


def _parse_boxes(plan: str):
    """Locate every box in DuckDB's ASCII plan.

    Each box is [top_row, bottom_row, c0, c1, name, info_lines]; names
    can be WIDTH-TRUNCATED by the renderer ("UNGROUPE..." for a narrow
    UNGROUPED_AGGREGATE box) — callers must match by prefix.
    """
    lines = plan.split("\n")
    boxes = []
    for r, line in enumerate(lines):
        i = 0
        while i < len(line):
            if line[i] == "┌":
                j = line.find("┐", i)
                if j < 0:
                    break
                inner = set(line[i + 1 : j])
                nxt = lines[r + 1] if r + 1 < len(lines) else ""
                if inner <= {"─", "┴"} and len(nxt) > i and nxt[i] == "│":
                    boxes.append([r, None, i, j, None, None])
                i = j
            i += 1
    for b in boxes:
        r, _, c0, c1, _, _ = b
        rr, names = r + 1, []
        while rr < len(lines) and len(lines[rr]) > c0 and lines[rr][c0] == "│":
            names.append(lines[rr][c0 + 1 : c1].strip(" │├─┤"))
            rr += 1
        b[1] = rr
        b[4] = names[0] if names else "?"
        b[5] = [x for x in names[1:] if x]
    return lines, boxes


def _is_op(box_name: str, ops) -> bool:
    """Truncation-tolerant operator-name match ("UNGROUPE..." matches
    UNGROUPED_AGGREGATE)."""
    clean = box_name.rstrip(".")
    return any(
        op == box_name or (box_name.endswith(".") and len(clean) >= 6 and op.startswith(clean))
        for op in ops
    )


def _build_tree(plan: str):
    """Parent each box by tracing its top-border '┴' connector upward to
    either a '┬' in a parent's bottom border or a '├──…──┐' run off a
    parent's right edge."""
    lines, boxes = _parse_boxes(plan)
    children: dict[int, list] = {id(b): [] for b in boxes}
    roots = []

    def box_at(r, c, border):
        for b in boxes:
            if b[0] <= r <= b[1]:
                if border == "right" and b[3] == c:
                    return b
                if border == "bottom" and b[1] == r and b[2] < c < b[3]:
                    return b
        return None

    for b in boxes:
        r, _, c0, c1, name, _ = b
        k = lines[r].find("┴", c0, c1)
        if k < 0:
            roots.append(b)
            continue
        rr, parent = r - 1, None
        while rr >= 0:
            ch = lines[rr][k] if k < len(lines[rr]) else " "
            if ch == "│":
                rr -= 1
                continue
            if ch == "┬":
                parent = box_at(rr, k, "bottom")
            elif ch == "┐":
                j = k - 1
                while j >= 0 and lines[rr][j] == "─":
                    j -= 1
                if j >= 0 and lines[rr][j] == "├":
                    parent = box_at(rr, j, "right")
            break
        if parent is None:
            roots.append(b)
        else:
            children[id(parent)].append(b)
    return boxes, children, roots


def _cte_index(b) -> int | None:
    for line in b[5]:
        if line.startswith("idx:"):
            try:
                return int(line.split(":")[1])
            except ValueError:
                return None
    return None


def _scan_ec(b) -> int | None:
    for line in b[5]:
        if line.startswith("EC:"):
            try:
                return int(line.split(":")[1])
            except ValueError:
                return None
    return None


# A filtered parquet scan whose STATS-BACKED estimate is tiny is a
# deliberate bounded side (codebook/seed/boundary pulls: `vec_id < 16`
# pushed into the scan). Parquet ECs come from real row-group stats —
# unlike the collapsed ~1 estimates on inlined-CTE joins that CAUSED the
# round-8 trap, which this rule deliberately does not trust (CTE_SCAN /
# HASH_JOIN ECs never count as bounded).
_BOUNDED_SCAN_EC = 4096


def _subtree_has_bounded(b, children, cte_defs, seen=None) -> bool:
    if seen is None:
        seen = set()
    if _is_op(b[4], _BOUNDED_OPS):
        return True
    if _is_op(b[4], {"PARQUET_SCAN"}):
        ec = _scan_ec(b)
        if (
            ec is not None
            and ec <= _BOUNDED_SCAN_EC
            and any(l.startswith("Filters:") for l in b[5])
        ):
            return True
    if _is_op(b[4], {"CTE_SCAN"}):
        idx = _cte_index(b)
        d = cte_defs.get(idx)
        if d is not None and idx not in seen:
            return _subtree_has_bounded(d, children, cte_defs, seen | {idx})
    return any(
        _subtree_has_bounded(c, children, cte_defs, seen) for c in children[id(b)]
    )


def audit_plan(plan: str) -> list[str]:
    """Return one flag string per NL-join node with NO bounded input side."""
    boxes, children, _ = _build_tree(plan)
    # materialized-CTE definition subtrees: a CTE box's FIRST child is
    # the producer plan, later children are consumers referencing idx
    cte_defs = {}
    for b in boxes:
        if _is_op(b[4], {"CTE"}) and children[id(b)]:
            idx = _cte_index(b)
            if idx is not None:
                cte_defs[idx] = children[id(b)][0]
    flags = []
    for b in boxes:
        if _is_op(b[4], _NL_OPS):
            kids = children[id(b)]
            if kids and not any(
                _subtree_has_bounded(c, children, cte_defs) for c in kids
            ):
                sides = ",".join(c[4] for c in kids)
                flags.append(f"{b[4]}({sides})")
    return flags


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def audit_all(sf_dir: str, names=None) -> dict[str, list[str]]:
    """Flag map over the registry's full oracles; {} means lint-green.
    EXPLAIN errors surface as a flag (a twin that no longer plans is
    worse than one that plans badly)."""
    from distgrep_spark import queries as q

    con = connect(sf_dir)
    out: dict[str, list[str]] = {}
    for name in names or list(q.ORACLES):
        sql = q.ORACLES.get(name)
        if sql is None:
            continue
        try:
            plan = con.execute("EXPLAIN " + sql).fetchall()[0][1]
        except Exception as e:  # noqa: BLE001
            out[name] = [f"EXPLAIN-ERROR: {str(e).splitlines()[0][:150]}"]
            continue
        flags = audit_plan(plan)
        if flags and name not in NL_ALLOWLIST:
            out[name] = flags
    return out


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and os.path.isdir(sys.argv[1])
        else os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    )
    names = [a for a in sys.argv[1:] if not os.path.isdir(a)] or None
    flagged = audit_all(sf_dir, names)
    for name, flags in sorted(flagged.items()):
        print(f"FLAG  {name}: {'; '.join(flags)}")
    from distgrep_spark import queries as q

    total = len(names or q.ORACLES)
    print(f"\n{len(flagged)} flagged / {total} audited at {sf_dir}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()

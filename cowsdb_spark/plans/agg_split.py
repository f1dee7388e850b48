"""Drop derived GROUP BY keys before Spark plans the aggregate.

``reduce_group_keys`` removes GROUP BY keys that are deterministic
expressions over the remaining simple-column keys: grouping by
(k, f(k)) yields exactly the groups of (k), so the shuffle rows shrink
and the hash covers fewer expressions. Measured default-on at 100M:
cb35 14.5 → 10.9 s (PROBE_AGGSPLIT_100M.json, fresh-JVM interleaved
medians).

This is a *conservative, text-level* pass over the translated Spark
SQL: it fires only on a shape it can parse completely —

    SELECT items FROM single_table [WHERE ...] GROUP BY keys
    [ORDER BY ...] [LIMIT n [OFFSET m]]

with no subqueries, set operations, HAVING, windows, DISTINCT
projection, ROLLUP/CUBE/GROUPING SETS, or nondeterministic functions.
Anything else returns ``None`` and the caller keeps the original plan;
the caller also re-analyzes the rewritten text and falls back if Spark
rejects it.
"""

from __future__ import annotations

import re
from typing import Optional

from ..dialect.tokenizer import Tok, significant as _sig, tokenize

# Clause keywords that may follow the FROM clause at top level, in
# statement order. Anything top-level not in this set → bail.
_CLAUSES = ("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET")

# Shapes we must never touch (top-level occurrence → bail).
_BAIL_WORDS = {
    "UNION", "INTERSECT", "EXCEPT", "JOIN", "HAVING", "QUALIFY",
    "WINDOW", "DISTRIBUTE", "SORT", "CLUSTER", "LATERAL", "PIVOT",
    "UNPIVOT", "TABLESAMPLE", "ROLLUP", "CUBE", "GROUPING",
}

_NONDETERMINISTIC = re.compile(
    r"\b(rand|randn|random|uuid|monotonically_increasing_id|"
    r"shuffle|current_timestamp|now|spark_partition_id|"
    r"input_file_name|input_file_block_start|input_file_block_length|"
    r"reflect|java_method)\s*\(",
    re.IGNORECASE,
)


def _norm(expr: str) -> str:
    """Whitespace/case-insensitive comparison key for expression text."""
    return re.sub(r"\s+", " ", expr).strip().lower()


def _depth_delta(t: Tok) -> int:
    """Paren-depth contribution of one token. Only operator tokens can
    open/close groups — parens inside string literals, quoted
    identifiers, or comments must not count."""
    if t.kind != "op":
        return 0
    return t.text.count("(") + t.text.count("[") - t.text.count(")") - t.text.count("]")


def _split_alias(item: str) -> tuple[str, Optional[str]]:
    """Split a select item into (expression text, explicit AS alias)."""
    toks = tokenize(item)
    sig = _sig(toks)
    depth = 0
    for pos, i in enumerate(sig):
        t = toks[i]
        depth += _depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.upper == "AS" and pos == len(sig) - 2:
            tail = toks[sig[pos + 1]]
            if tail.kind in ("ident", "bquote", "dquote"):
                expr = "".join(x.text for x in toks[: i]).strip()
                return expr, tail.text.strip('`"')
    return item.strip(), None


def parse_single_groupby(sql: str) -> Optional[dict]:
    """Parse the restricted single-block GROUP BY shape; None → bail."""
    if _NONDETERMINISTIC.search(sql):
        return None
    toks = tokenize(sql)
    sig = _sig(toks)
    if not sig or toks[sig[0]].upper != "SELECT":
        return None
    # no subqueries anywhere (cheap global check)
    if sum(1 for i in sig if toks[i].upper == "SELECT") > 1:
        return None
    # locate top-level clause boundaries
    depth = 0
    bounds: list[tuple[str, int]] = []  # (clause, sig position)
    for pos, i in enumerate(sig):
        t = toks[i]
        depth += _depth_delta(t)
        if depth != 0 or t.kind != "ident":
            continue
        u = t.upper
        if pos > 0 and u in _BAIL_WORDS:
            return None
        if pos > 0 and u in ("FROM",) + _CLAUSES:
            bounds.append((u, pos))
    names = [b[0] for b in bounds]
    if "FROM" not in names or "GROUP" not in names:
        return None
    if names.count("FROM") != 1 or names.count("GROUP") != 1:
        return None
    # clauses must appear in canonical order
    order = {"FROM": 0, "WHERE": 1, "GROUP": 2, "ORDER": 3, "LIMIT": 4,
             "OFFSET": 5}
    seq = [order[n] for n in names]
    if seq != sorted(seq):
        return None

    def clause_text(idx: int) -> str:
        start_pos = bounds[idx][1]
        end_pos = bounds[idx + 1][1] if idx + 1 < len(bounds) else len(sig)
        lo, hi = sig[start_pos], (sig[end_pos] if end_pos < len(sig) else len(toks))
        return "".join(t.text for t in toks[lo:hi]).strip()

    select_text = "".join(
        t.text for t in toks[sig[1]: sig[bounds[0][1]]]
    ).strip()
    if re.match(r"\s*DISTINCT\b", select_text, re.IGNORECASE):
        return None
    parts = {n: clause_text(i) for i, (n, _) in enumerate(bounds)}
    from_body = re.sub(r"^FROM\b", "", parts["FROM"], flags=re.IGNORECASE).strip()
    # single relation: dotted identifier only (no parens/commas/space-alias)
    if not re.fullmatch(
        r"(`[^`]+`|[A-Za-z_][\w]*)(\.(`[^`]+`|[A-Za-z_][\w]*)){0,2}", from_body
    ):
        return None
    where_body = None
    if "WHERE" in parts:
        where_body = re.sub(r"^WHERE\b", "", parts["WHERE"], flags=re.IGNORECASE).strip()
    group_body = re.sub(
        r"^GROUP\s+BY\b", "", parts["GROUP"], flags=re.IGNORECASE
    ).strip()
    if not group_body:
        return None
    tail = ""
    for n in ("ORDER", "LIMIT", "OFFSET"):
        if n in parts:
            tail += " " + parts[n]
    items = _split_top(select_text)
    keys = _split_top(group_body)
    if not items or not keys:
        return None
    return {
        "items": items,
        "from": from_body,
        "where": where_body,
        "keys": keys,
        "tail": tail.strip(),
    }


def _split_top(s: str) -> list[str]:
    """Top-level comma split, paren depth tracked token-wise so commas
    and parens inside string literals never count."""
    parts, depth, cur = [], 0, []
    for t in tokenize(s):
        if t.kind == "op" and t.text == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        depth += _depth_delta(t)
        cur.append(t.text)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


# Spark keywords that can appear as bare idents inside expressions and
# must not be mistaken for column references.
_EXPR_KEYWORDS = {
    "AND", "OR", "NOT", "IN", "IS", "NULL", "TRUE", "FALSE", "LIKE",
    "RLIKE", "ILIKE", "BETWEEN", "CASE", "WHEN", "THEN", "ELSE", "END",
    "CAST", "AS", "DISTINCT", "INTERVAL", "DIV", "ESCAPE",
}


def _referenced_columns(expr: str) -> Optional[set]:
    """Bare column identifiers referenced by the expression, lowercase.
    None → the expression is not safely analyzable (subquery present).
    Function names (ident immediately followed by '(') don't count."""
    toks = tokenize(expr)
    sig = _sig(toks)
    cols: set = set()
    for pos, i in enumerate(sig):
        t = toks[i]
        if t.kind == "bquote":
            cols.add(t.text.strip("`").lower())
            continue
        if t.kind != "ident":
            continue
        u = t.upper
        if u == "SELECT":
            return None
        if u in _EXPR_KEYWORDS:
            continue
        nxt = toks[sig[pos + 1]] if pos + 1 < len(sig) else None
        if nxt is not None and nxt.kind == "op" and nxt.text.startswith("("):
            continue  # function call
        prev = toks[sig[pos - 1]] if pos > 0 else None
        if prev is not None and prev.kind == "op" and prev.text.endswith("."):
            continue  # qualified tail handled with its qualifier
        cols.add(t.text.lower())
    return cols


def reduce_group_keys(sql: str) -> Optional[str]:
    """Drop GROUP BY keys that are deterministic expressions over the
    remaining simple-column keys.  Grouping by (k, f(k)) produces
    exactly the groups of (k) for ANY deterministic f — the derived
    key is constant within each group — so dropping it never changes
    results, while the shuffle rows shrink and the hash covers fewer
    expressions (ClickBench Q35 groups by ClientIP and three
    ClientIP-minus-constant echoes: 4 longs hashed and carried where
    1 suffices).  Select items are untouched: an expression over
    group-by columns is valid post-aggregation in Spark.

    Restricted shape only (see the module docstring); None when
    nothing changes.
    """
    p = parse_single_groupby(sql)
    if p is None:
        return None
    items = p["items"]
    keys = []
    for k in p["keys"]:
        if re.fullmatch(r"\d+", k):
            idx = int(k) - 1
            if not 0 <= idx < len(items):
                return None
            keys.append(_split_alias(items[idx])[0])
        else:
            keys.append(k)
    simple = {
        _norm(k)
        for k in keys
        if re.fullmatch(r"(`[^`]+`|[A-Za-z_]\w*)", k.strip())
    }
    if not simple:
        return None
    kept, dropped = [], 0
    for k in keys:
        if _norm(k) in simple:
            kept.append(k)
            continue
        refs = _referenced_columns(k)
        if refs is not None and refs and refs <= {s.strip("`") for s in simple}:
            dropped += 1  # deterministic expr over retained keys
            continue
        kept.append(k)
    if not dropped or not kept:
        return None
    base = p["from"] + (f" WHERE {p['where']}" if p["where"] else "")
    return (
        f"SELECT {', '.join(items)} FROM {base} "
        f"GROUP BY {', '.join(kept)} {p['tail']}".strip()
    )

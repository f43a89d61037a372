"""Physical-plan audit helpers.

The engine's performance discipline (BASELINE.md engineering targets):
filters/projections must reach the parquet scan, dimension joins must
broadcast, hot expressions must stay inside WholeStageCodegen. These
helpers turn `.explain` output into assertable facts so tests and the
bench can enforce plan shape, not just results.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning audit)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(f.split(":")[0].strip() for f in inner.split(",") if ":" in f)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan — the scale-limiting
    metric. Counts the formatted plan's detail headers (`(n) Exchange`)
    so tree+detail duplication doesn't double-count; broadcast
    exchanges are excluded (they move the small side only)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", physical_plan(df), re.MULTILINE))


def unpartitioned_window_cols(df: DataFrame) -> list[str]:
    """First ORDER BY column of every window spec that has NO
    partitionBy — the single-task-sort red flag at scale.

    In the analyzed plan a spec prints as
    ``windowspecdefinition(part..., order ASC/DESC..., frame)``;
    when the FIRST argument already carries a sort direction there are
    no partition columns. The first argument is extracted with a
    balanced-paren scan (NOT a bare-identifier regex) so expression
    order keys — ``cast(v#1 as date) ASC`` — cannot slip past the lint.
    Returns the offending first order keys with expr-ids stripped
    (deduped) so lints can allowlist windows over tiny inputs (e.g.
    per-range-partition summaries ordered by ``__pid``)."""
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    needle = "windowspecdefinition("
    out: set[str] = set()
    pos = 0
    while True:
        start = plan.find(needle, pos)
        if start < 0:
            break
        # scan the FIRST top-level argument of the spec
        depth = 0
        first = []
        i = start + len(needle)
        while i < len(plan):
            ch = plan[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            first.append(ch)
            i += 1
        arg = "".join(first).strip()
        m = re.search(r"\s(?:ASC|DESC)\b", arg)
        if m:  # first arg is an ORDER key -> no partition columns
            out.add(re.sub(r"#\d+", "", arg[: m.start()]).strip())
        pos = i
    return sorted(out)


def _balanced(text: str, start: int) -> str:
    """``text[start:]`` up to the parenthesis that closes the first
    ``(`` at or after ``start``."""
    depth = 0
    for i in range(text.index("(", start), len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if depth == 0:
            return text[start : i + 1]
    return text[start:]


def retokenized_generates(plan: str) -> list[str]:
    """Tokenizers evaluated again above the generator that explodes
    them, in a :func:`physical_plan` string.

    For every ``Generate`` whose generator reads a ``split(...)``
    directly, returns that expression if a node above the Generate (an
    ancestor in the plan tree) evaluates the same expression: the
    ``select(size(split(t)), posexplode(split(t)))`` shape, which keeps
    ``t`` in every generated row and tokenizes it again for each one,
    i.e. quadratically in the row's length."""
    import re

    parent: dict[int, int] = {}
    stack: list[tuple[int, int]] = []  # (indent, node id) of the open path
    for line in plan.split("\n\n", 1)[0].splitlines():  # the plan tree
        m = re.search(r"\((\d+)\)$", line)
        if not m:
            continue
        indent, node = len(line) - len(line.lstrip(" :|+-")), int(m.group(1))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            parent[node] = stack[-1][1]
        stack.append((indent, node))
    details = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=\n\n|\Z)", plan, re.MULTILINE | re.DOTALL)
    }
    out = []
    for node, text in details.items():
        m = re.search(r"^\(\d+\) Generate.*?^Arguments: \w+\((split\()", text, re.MULTILINE | re.DOTALL)
        if not m:
            continue
        tokenizer = _balanced(text, m.start(1))
        up = parent.get(node)
        while up is not None:
            if tokenizer in details.get(up, ""):
                out.append(re.sub(r"#\d+L?", "", tokenizer))
                break
            up = parent.get(up)
    return sorted(set(out))

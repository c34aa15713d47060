"""Property-based round-trips (hypothesis): arbitrary values survive
dump-render -> parse for both the .sql lexer and the strict CSV
parser. The reference's escape/quote edge cases are exactly the bugs
this class of test finds."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from tidb_lightning_release_4_0_spark.config import CSVConfig
from tidb_lightning_release_4_0_spark.sources.csv_strict import parse_csv_text
from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
    parse_insert_statements,
)

# text values over a nasty alphabet: quotes, backslashes, separators,
# newlines, nulls, unicode
_nasty = st.text(
    alphabet=st.sampled_from(
        list("abc,\"'\\\n\r\t\0`()%;中🙂 ") + ["\x1a"]
    ),
    max_size=20,
)
_value = st.one_of(st.none(), _nasty, st.integers(-2**63, 2**63 - 1))


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    out = []
    for ch in v:
        out.append(
            {
                "\\": "\\\\", "'": "\\'", "\n": "\\n", "\r": "\\r",
                "\t": "\\t", "\0": "\\0", "\x1a": "\\Z",
            }.get(ch, ch)
        )
    return "'" + "".join(out) + "'"


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(_value, min_size=1, max_size=5), min_size=1, max_size=5))
def test_sql_dump_roundtrip(rows):
    width = len(rows[0])
    rows = [r[:width] + [None] * (width - len(r)) for r in rows]
    stmt = "INSERT INTO t VALUES " + ",".join(
        "(" + ",".join(_sql_literal(v) for v in r) + ")" for r in rows
    ) + ";"
    parsed = []
    for _, rs in parse_insert_statements(stmt):
        parsed.extend(rs)
    expect = [
        [None if v is None else str(v) for v in r] for r in rows
    ]
    assert parsed == expect


_dump_chars = list("ab ,;()'\"`\\\n\t%_中🙂")


@st.composite
def _dump_literal(draw, backslash: bool) -> str:
    kind = draw(st.sampled_from(["str", "null", "int", "dec", "exp", "hex", "bin", "bool"]))
    if kind == "str":
        quote_style = draw(st.booleans())  # \' or ''
        out = []
        for ch in draw(st.text(alphabet=st.sampled_from(_dump_chars), max_size=12)):
            if ch == "'":
                out.append("\\'" if backslash and quote_style else "''")
            elif ch == "\\" and backslash:
                out.append("\\\\")
            elif ch == "\n" and backslash:
                out.append("\\n")
            else:
                out.append(ch)
        return "'" + "".join(out) + "'"
    if kind == "null":
        return draw(st.sampled_from(["NULL", "null"]))
    if kind == "int":
        return str(draw(st.integers(-(2**63), 2**64)))
    if kind == "dec":
        v = draw(st.integers(-(10**9), 10**9))
        return draw(st.sampled_from([f"{v}.{abs(v) % 97}", f"{v}.", f".{abs(v)}"]))
    if kind == "exp":
        m = draw(st.integers(-999, 999))
        return draw(st.sampled_from([f"{m}e{m % 40}", f"{m}.5E-{m % 9}", f"-1.5e+{m % 7}"]))
    if kind == "hex":
        h = draw(st.text(alphabet="0123456789abcdefABCDEF", min_size=1, max_size=8))
        return draw(st.sampled_from([f"0x{h}", f"x'{h}'", "X''"]))
    if kind == "bin":
        b = draw(st.text(alphabet="01", min_size=1, max_size=8))
        return draw(st.sampled_from([f"0b{b}", f"b'{b}'", "B''"]))
    return draw(st.sampled_from(["TRUE", "false"]))


@st.composite
def _dump(draw, backslash: bool) -> str:
    out = ["/*!40101 SET NAMES binary*/;\n"] if draw(st.booleans()) else []
    for _ in range(draw(st.integers(1, 3))):
        head = draw(st.sampled_from(["INSERT INTO", "REPLACE INTO", "INSERT IGNORE INTO"]))
        cols = draw(st.sampled_from(["", " (`a`,b)", " (`c``d`, e, f)"]))
        sep = draw(st.sampled_from([",", ",\n", " , "]))
        tuples = draw(
            st.lists(
                st.lists(_dump_literal(backslash), min_size=1, max_size=6),
                min_size=1,
                max_size=5,
            )
        )
        body = sep.join("(" + ",".join(t) + ")" for t in tuples)
        out.append(f"{head} `t`{cols} VALUES\n{body};\n")
    return "".join(out)


@settings(max_examples=300, deadline=None)
@given(st.booleans().flatmap(lambda bs: st.tuples(st.just(bs), _dump(bs))))
def test_structural_lexer_matches_tokenizer(case):
    """Generated mydumper-shaped dumps: ``''``, ``\\'``, ``\\\\``, quotes,
    backquotes, ``;`` and ``(`` inside strings, NULL, signed and
    exponent numbers, hex/bin, column lists, short and long tuples.
    The structural lexer must accept every one and equal the
    tokenizer in both backslash modes."""
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        _lex,
        _parse_insert_statements_slow,
    )

    backslash, text = case
    got = _lex(text.encode("utf-8"), backslash).statements()
    assert got == list(_parse_insert_statements_slow(text, backslash))


def _csv_field(v: str | None) -> str:
    if v is None:
        return "\\N"
    out = []
    for ch in v:
        out.append(
            {
                "\\": "\\\\", '"': '\\"', "\0": "\\0",
            }.get(ch, ch)
        )
    return '"' + "".join(out) + '"'


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.one_of(st.none(), _nasty), min_size=1, max_size=5),
        min_size=1,
        max_size=5,
    )
)
def test_strict_csv_roundtrip(rows):
    width = max(len(r) for r in rows)
    rows = [r + [None] * (width - len(r)) for r in rows]
    text = "\n".join(",".join(_csv_field(v) for v in r) for r in rows) + "\n"
    cfg = CSVConfig()
    parsed = list(parse_csv_text(text, cfg))
    assert parsed == rows


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_union_find_matches_bfs_components(edges):
    """The driver union-find fast path in connected_components must
    agree with a plain BFS reference on arbitrary small graphs
    (chains, cycles, self-loops, duplicate edges)."""
    from tidb_lightning_release_4_0_spark.operators.curation import (
        union_find_min,
    )

    got = dict(union_find_min(edges))
    nodes = {x for e in edges for x in e}

    # BFS reference: component label = min node id
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen: set = set()
    for start in nodes:
        if start in seen:
            continue
        comp, todo = [], [start]
        while todo:
            v = todo.pop()
            if v in seen:
                continue
            seen.add(v)
            comp.append(v)
            todo.extend(adj.get(v, ()))
        label = min(comp)
        for v in comp:
            want[v] = label
    assert got == want

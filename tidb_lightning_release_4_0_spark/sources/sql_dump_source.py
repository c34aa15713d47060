"""S3/T1/T2: mydumper ``.sql`` dump source.

Spark has no built-in reader for mydumper dumps (``INSERT INTO tbl
(cols) VALUES (...),(...);`` text). The reference lexes them with a
Ragel state machine (lightning/mydump/parser.rl:36-160,
parser.go:293-495) that is *tolerant*: anything that is not an INSERT
statement (DDL, SET, comments) is skipped; literals are typed
(parser.go:442-493) and unescaped (parser.go:244-290).

Two lexers give one result:

- ``_lex`` is the fast path, a structural lexer over the UTF-8 bytes
  in numpy after simdjson (Langdale & Lemire, "Parsing Gigabytes of
  JSON per Second", VLDB J. 2019). Backslash runs give an escape
  mask; the prefix parity of the unescaped ``'`` gives the string
  regions; the ``( ) , ;`` outside them give statement, tuple and
  field offsets. Field bytes go straight into an Arrow
  ``StringArray``. Python touches a field only when it needs
  unescaping or is a special literal (TRUE/FALSE, hex/bin, a bare
  word). It accepts the shape mydumper writes and declines (raises
  ``_Decline``) anything else: comments or quotes outside a skipped
  DDL/SET statement, nested parentheses, empty fields, ...
- ``_parse_insert_statements_slow`` is the exact per-token tokenizer
  (a regex DFA, the moral equivalent of the Ragel scanner). It parses
  whatever the fast path declines, and is the fast path's test
  oracle.

``read_sql_dump`` runs one Python stage: ``mapInArrow`` over a JVM
``spark.range`` plan (``sources.map_tasks``). Small files are packed
into one task up to about ``split_bytes``; large UTF-8 files are
byte-range split at statement markers, the distributed analog of the
reference's ReadChunks (parser.go:502-535). A chunk the fast path
declines is parsed whole by the tokenizer; each such fallback is
logged and counted in ``lexer_fallbacks``.

Row representation: strings in canonical text form — NULL -> null,
TRUE/FALSE -> '1'/'0', numbers as written, strings unescaped, hex/bin
literals -> ``0x<HEX>`` (the cast layer decodes them for binary
columns). Deterministic per-file row-id bases are reserved at plan
time like PrevRowIDMax chaining (region.go:146-170), using file size
as a safe upper bound on rows.
"""

from __future__ import annotations

import functools
import logging
import re
import weakref
from collections.abc import Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger("tidb_lightning_spark")

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
  | (?P<str>'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*")
  | (?P<bq>`(?:[^`]|``)*`)
  | (?P<hex>0[xX][0-9a-fA-F]+|[xX]'[0-9a-fA-F]*')
  | (?P<bin>0[bB][01]+|[bB]'[01]*')
  | (?P<num>[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
  | (?P<punct>.)
    """,
    re.S | re.X,
)

_TOKEN_NOESC = re.compile(
    # NO_BACKSLASH_ESCAPES flavor: backslash is literal in strings
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|\#[^\n]*|/\*.*?\*/)
  | (?P<str>'(?:[^']|'')*'|"(?:[^"]|"")*")
  | (?P<bq>`(?:[^`]|``)*`)
  | (?P<hex>0[xX][0-9a-fA-F]+|[xX]'[0-9a-fA-F]*')
  | (?P<bin>0[bB][01]+|[bB]'[01]*')
  | (?P<num>[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
  | (?P<punct>.)
    """,
    re.S | re.X,
)

_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t",
    "Z": "\x1a", "\\": "\\", "'": "'", '"': '"', "%": "\\%", "_": "\\_",
}


_BS_RE = re.compile(r"\\(.)", re.S)


def _esc_repl(m: re.Match) -> str:
    return _ESCAPES.get(m.group(1), m.group(1))


def _unescape(body: str, quote: str, backslash: bool) -> str:
    """T2: MySQL string unescape (parser.go:244-290)."""
    if quote in body:
        body = body.replace(quote + quote, quote)
    if backslash and "\\" in body:
        body = _BS_RE.sub(_esc_repl, body)
    return body


def _literal(m: re.Match, backslash: bool) -> str | None:
    """T1: one literal token's canonical text (parser.go:442-493)."""
    kind = m.lastgroup
    if kind == "str":
        s = m.group("str")
        return _unescape(s[1:-1], s[0], backslash)
    if kind == "num":
        return m.group("num")
    if kind == "word":
        w = m.group("word")
        u = w.upper()
        if u == "NULL":
            return None
        if u == "TRUE":
            return "1"
        if u == "FALSE":
            return "0"
        return w
    if kind == "hex":
        h = m.group("hex")
        digits = h[2:] if h[1] in "xX" and h[0] == "0" else h[2:-1]
        return "0x" + digits.upper()
    if kind == "bin":
        b = m.group("bin")
        digits = b[2:] if b[1] in "bB" and b[0] == "0" else b[2:-1]
        return "0x%X" % int(digits, 2) if digits else "0x"
    # bq
    return m.group("bq")[1:-1].replace("``", "`")


def parse_insert_statements(
    text: str, backslash_escape: bool = True
) -> Iterator[tuple[list[str] | None, list[list[str | None]]]]:
    """Yield (column_list_or_None, rows) per INSERT statement.

    Tolerant like the reference: non-INSERT statements are skipped
    (parser.rl:139-152 treats unknown keywords as comments). The
    structural lexer runs first; text outside its shape goes, whole,
    to the exact tokenizer.
    """
    try:
        lexed = _lex(text.encode("utf-8"), backslash_escape)
    except (_Decline, UnicodeEncodeError):
        yield from _parse_insert_statements_slow(text, backslash_escape)
        return
    yield from lexed.statements()


# -- fast path: structural lexer ---------------------------------------------


class _Decline(Exception):
    """The input is outside the structural lexer's validated shape."""


_IDENT = rb"(?:`(?:[^`'\"\\;]|``)*`|(?!VALUES?\b)[A-Za-z_][A-Za-z0-9_$]*)"
_COL = rb"(?:`(?:[^`'\"\\;]|``)*`|[A-Za-z_][A-Za-z0-9_$]*)"
# the statement header the tokenizer reads identically: keyword,
# modifiers, one [db.]table name, an optional list of bare or
# backquoted column names, then VALUES
_HDR = re.compile(
    rb"\s*(?P<kw>INSERT|REPLACE)\b"
    rb"(?:\s+(?:IGNORE|INTO|LOW_PRIORITY|DELAYED|HIGH_PRIORITY)\b)*"
    rb"\s*" + _IDENT + rb"(?:\s*\.\s*" + _IDENT + rb")?"
    rb"\s*(?:\((?P<cols>\s*" + _COL + rb"(?:\s*,\s*" + _COL + rb")*\s*)\))?"
    rb"\s*VALUES?\b\s*",
    re.I,
)
_COL_RE = re.compile(rb"`((?:[^`]|``)*)`|([A-Za-z_][A-Za-z0-9_$]*)")
_MARKER = re.compile(rb"\n(?:INSERT|REPLACE)")
# number fields of at most this many bytes are validated in numpy
_NUM_MAX = 255


@functools.lru_cache(maxsize=None)
def _byte_classes():
    """Per-byte lookup tables (built in the worker, on first use)."""
    import numpy as np

    space = np.zeros(256, np.bool_)
    space[list(b" \t\n\r\x0b\x0c")] = True
    # number shape, summed over a field: '.' counts in bits 0-7, a
    # sign in bits 8-15, any other non-digit from bit 16
    numw = np.full(256, 1 << 16, np.int32)
    numw[list(b"0123456789")] = 0
    numw[ord(".")] = 1
    numw[list(b"+-")] = 1 << 8
    return space, numw


def _ranges(np, starts, lens):
    """Concatenated ``arange(s, s + n)`` for each (s, n)."""
    total = int(lens.sum())
    if not total:
        return np.zeros(0, np.int64)
    ends = np.cumsum(lens)
    return np.repeat(starts - (ends - lens), lens) + np.arange(total)


def _trim(np, b, space, s, e):
    """Move field bounds past ASCII whitespace on both sides."""
    s, e = s.copy(), e.copy()
    act = np.flatnonzero((s < e) & space[b[s]])
    while act.size:
        s[act] += 1
        act = act[(s[act] < e[act]) & space[b[s[act]]]]
    act = np.flatnonzero((e > s) & space[b[e - 1]])
    while act.size:
        e[act] -= 1
        act = act[(e[act] > s[act]) & space[b[e[act] - 1]]]
    return s, e


def _skip_statement(buf: bytes, s0: int, s1: int) -> None:
    """A ``;``-delimited span that is not an INSERT: the tokenizer
    skips it whole only when no token it holds can reach past its
    ``;`` and none is an INSERT/REPLACE keyword."""
    seg = buf[s0:s1]
    if not seg.strip():
        return
    low = seg.lower()
    if b"insert" in low or b"replace" in low:
        raise _Decline("INSERT/REPLACE inside another statement")
    for c in (b"'", b'"', b"`", b"#", b"--"):
        if c in seg:
            raise _Decline(f"{c.decode()} outside an INSERT statement")
    i = seg.find(b"/*")
    while i != -1:
        j = seg.find(b"*/", i + 2)
        if j == -1:
            raise _Decline("comment spans a ';'")
        i = seg.find(b"/*", j + 2)


def _header_cols(raw: bytes | None) -> list[str] | None:
    if raw is None:
        return None
    return [
        bq.replace(b"``", b"`").decode("utf-8") if word == b"" else
        word.decode("utf-8")
        for bq, word in _COL_RE.findall(raw)
    ]


def _field_literal(f: str, tok: re.Pattern, backslash: bool) -> str | None:
    """One field the numpy pass could not type: it must be exactly
    one literal token, typed as the tokenizer types it."""
    m = tok.match(f)
    if (
        m is None
        or m.end() != len(f)
        or m.lastgroup in ("ws", "comment", "punct")
        or (m.lastgroup == "word" and f.upper() == "CONVERT")
    ):
        raise _Decline(f"field {f[:40]!r} is not one literal")
    return _literal(m, backslash)


class _Lexed(NamedTuple):
    """One text's INSERT rows, row-major: ``fields`` holds every
    field, row ``r`` is ``fields[row_offsets[r]:row_offsets[r + 1]]``,
    statement ``t`` owns ``stmt_rows[t]`` consecutive rows and starts
    at byte ``stmt_starts[t]`` with column list ``stmt_cols[t]``."""

    fields: object  # pyarrow.StringArray
    row_offsets: object  # numpy int64, rows + 1
    stmt_rows: object  # numpy int64
    stmt_starts: object  # numpy int64; None from the tokenizer
    stmt_cols: list

    @property
    def num_rows(self) -> int:
        return len(self.row_offsets) - 1

    @classmethod
    def from_statements(cls, stmts: list) -> "_Lexed":
        """Wrap the tokenizer's ``(cols, rows)`` statements."""
        import numpy as np
        import pyarrow as pa

        rows = [r for _, rs in stmts for r in rs]
        offsets = np.zeros(len(rows) + 1, np.int64)
        np.cumsum([len(r) for r in rows], out=offsets[1:])
        return cls(
            pa.array([v for r in rows for v in r], pa.string()),
            offsets,
            np.array([len(rs) for _, rs in stmts], np.int64),
            None,
            [c for c, _ in stmts],
        )

    def statements(self) -> list[tuple[list[str] | None, list[list[str | None]]]]:
        """The same ``(cols, rows)`` list the tokenizer yields."""
        vals = self.fields.to_pylist()
        off = self.row_offsets.tolist()
        rows = [vals[a:b] for a, b in zip(off[:-1], off[1:])]
        out, k = [], 0
        for cols, n in zip(self.stmt_cols, self.stmt_rows.tolist()):
            out.append((cols, rows[k : k + n]))
            k += n
        return out


def _lex(buf: bytes, backslash_escape: bool = True) -> _Lexed:
    """Structural lex of UTF-8 ``buf``; raises ``_Decline`` for input
    whose tokenization it cannot prove equal to the tokenizer's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    space, numw = _byte_classes()
    b = np.frombuffer(buf, np.uint8)
    n = b.size

    # 1. quote, backslash and structural bytes (sparse positions)
    hit = b == 39
    for c in b"\\(),;":
        hit |= b == c
    nz = np.flatnonzero(hit)
    ch = b[nz]
    q = nz[ch == 39]
    bsl = nz[ch == 92] if backslash_escape else nz[:0]
    if bsl.size:
        # a run of backslashes escapes the next byte when it is odd
        brk = np.flatnonzero(np.diff(bsl) != 1)
        run_start = bsl[np.r_[0, brk + 1]]
        run_end = bsl[np.r_[brk, bsl.size - 1]]
        escaped = run_end[(run_end - run_start) % 2 == 0] + 1
        q = q[~np.isin(q, escaped, assume_unique=True)]
    if q.size % 2:
        raise _Decline("unbalanced quotes")
    # 2. prefix parity: a byte with an odd count of quotes before it
    #    lies inside a string
    if bsl.size and (np.searchsorted(q, bsl) % 2 == 0).any():
        raise _Decline("backslash outside a string")
    st = nz[(ch != 39) & (ch != 92)]
    st = st[np.searchsorted(q, st) % 2 == 0]
    sc = b[st]

    # 3. statements: ';'-delimited spans, INSERTs by their header
    semis = st[sc == 59]
    seg_lo = np.r_[0, semis + 1].tolist()
    seg_hi = np.r_[semis, n].tolist()
    hdr_end, hdr_seg, stmt_starts, stmt_cols = [], [], [], []
    for k, (s0, s1) in enumerate(zip(seg_lo, seg_hi)):
        m = _HDR.match(buf, s0, s1)
        if m is None:
            _skip_statement(buf, s0, s1)
            continue
        hdr_end.append(m.end())
        hdr_seg.append(s1)
        stmt_starts.append(m.start("kw"))
        stmt_cols.append(_header_cols(m.group("cols")))
    if not hdr_end:
        empty = np.zeros(0, np.int64)
        return _Lexed(pa.array([], pa.string()), np.zeros(1, np.int64), empty, empty, [])
    hdr_end = np.array(hdr_end, np.int64)
    hdr_seg = np.array(hdr_seg, np.int64)
    i0 = np.searchsorted(st, hdr_end)
    i1 = np.searchsorted(st, hdr_seg)
    if (i0 >= i1).any() or (st[i0] != hdr_end).any() or (sc[i0] != 40).any():
        raise _Decline("VALUES not followed by a tuple")

    # 4. tuples: the structural bytes of all VALUES bodies, in order
    el = _ranges(np, i0, i1 - i0)
    P, C = st[el], sc[el]
    is_open, is_close = C == 40, C == 41
    depth = np.cumsum(is_open.astype(np.int32) - is_close)
    if not np.where(
        is_open, depth == 1, np.where(is_close, depth == 0, depth <= 1)
    ).all():
        raise _Decline("nested parentheses")
    last = np.cumsum(i1 - i0) - 1
    if not is_close[last].all():
        raise _Decline("VALUES body does not end with ')'")
    closes = np.flatnonzero(is_close)
    closes = closes[~np.isin(closes, last, assume_unique=True)]
    if (C[closes + 1] != 44).any():
        raise _Decline("tuples not separated by ','")
    sep = np.flatnonzero((C == 44) & (depth == 0))
    if (C[sep - 1] != 41).any() or (C[sep + 1] != 40).any():
        raise _Decline("stray ',' between tuples")
    gaps_lo = np.concatenate([P[sep - 1] + 1, P[sep] + 1, P[last] + 1])
    gaps_hi = np.concatenate([P[sep], P[sep + 1], hdr_seg])
    if not space[b[_ranges(np, gaps_lo, gaps_hi - gaps_lo)]].all():
        raise _Decline("text between tuples")

    # 5. fields: from each '(' or in-tuple ',' to the next delimiter
    fk = np.flatnonzero(is_open | ((C == 44) & (depth == 1)))
    s, e = _trim(np, b, space, P[fk] + 1, P[fk + 1])
    L = e - s
    if not L.all():
        raise _Decline("empty field")
    row_offsets = np.r_[np.flatnonzero(is_open[fk]), fk.size]
    stmt_rows = np.bincount(
        np.repeat(np.arange(hdr_end.size), i1 - i0)[is_open],
        minlength=hdr_end.size,
    )

    # 6. type fields in bulk: clean strings, plain numbers, NULL
    f0 = b[s]
    clean_str = np.zeros(fk.size, np.bool_)
    qf = np.flatnonzero(f0 == 39)
    if qf.size:
        # a field opening a string is clean when that string's closing
        # quote is its last byte and it holds no backslash
        ok = q[np.searchsorted(q, s[qf]) + 1] == e[qf] - 1
        if bsl.size:
            ok &= np.searchsorted(bsl, e[qf]) == np.searchsorted(bsl, s[qf])
        clean_str[qf] = ok
    clean_num = np.zeros(fk.size, np.bool_)
    num = np.flatnonzero(
        (((f0 >= 48) & (f0 <= 57)) | (f0 == 43) | (f0 == 45) | (f0 == 46))
        & (L <= _NUM_MAX)
    )
    if num.size:
        w = np.add.reduceat(
            numw[b], np.column_stack([s[num], e[num]]).ravel()
        )[::2]
        dots, signs, other = w & 255, (w >> 8) & 255, w >> 16
        clean_num[num] = (
            (other == 0)
            & (dots <= 1)
            & (L[num] - dots - signs >= 1)
            & ((signs == 0) | ((signs == 1) & ((f0[num] == 43) | (f0[num] == 45))))
        )
    null = np.zeros(fk.size, np.bool_)
    four = np.flatnonzero(L == 4)
    if four.size:
        word = b[s[four, None] + np.arange(4)] | 32  # ASCII lower case
        null[four] = (word == np.frombuffer(b"null", np.uint8)).all(axis=1)

    # 7. field bytes into one StringArray; the rest through the
    #    tokenizer, one field at a time
    cs = s + clean_str
    ce = e - clean_str
    bulk = clean_str | clean_num
    lens = np.where(bulk, ce - cs, 0)
    offsets = np.zeros(fk.size + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] >= 1 << 31:
        raise _Decline("chunk too large for one StringArray")
    # the kept bytes as alternating runs: skip, field, skip, ..., skip
    runs = np.empty(2 * fk.size + 1, np.int64)
    runs[1::2] = lens
    runs[0:-1:2] = cs - np.r_[0, (cs + lens)[:-1]]
    runs[-1] = n - (cs[-1] + lens[-1])
    data = b[np.repeat(np.arange(runs.size) % 2 == 1, runs)]
    validity = None
    if null.any():
        validity = pa.py_buffer(np.packbits(~null, bitorder="little"))
    fields = pa.StringArray.from_buffers(
        fk.size,
        pa.py_buffer(offsets.astype(np.int32)),
        pa.py_buffer(data),
        validity,
    )
    slow = ~(bulk | null)
    if slow.any():
        tok = _TOKEN if backslash_escape else _TOKEN_NOESC
        values = [
            _field_literal(buf[a:z].decode("utf-8"), tok, backslash_escape)
            for a, z in zip(s[slow].tolist(), e[slow].tolist())
        ]
        fields = pc.replace_with_mask(
            fields, pa.array(slow), pa.array(values, pa.string())
        )
    return _Lexed(
        fields, row_offsets, stmt_rows, np.array(stmt_starts, np.int64), stmt_cols
    )


# -- exact path: per-token tokenizer -----------------------------------------


def _parse_insert_statements_slow(
    text: str, backslash_escape: bool = True
) -> Iterator[tuple[list[str] | None, list[list[str | None]]]]:
    """Exact per-token state machine (the reference-parity path)."""
    tok = _TOKEN if backslash_escape else _TOKEN_NOESC
    pos, n = 0, len(text)
    # state: scan for INSERT/REPLACE ... VALUES
    while pos < n:
        m = tok.match(text, pos)
        if not m:
            pos += 1
            continue
        pos = m.end()
        kind = m.lastgroup
        if kind != "word":
            continue
        if m.group("word").upper() not in ("INSERT", "REPLACE"):
            continue
        # scan forward for VALUES/VALUE, collecting a possible (col,..)
        cols: list[str] | None = None
        pending: list[str] = []
        in_parens = False
        found_values = False
        while pos < n:
            m = tok.match(text, pos)
            if not m:
                pos += 1
                continue
            pos = m.end()
            kind = m.lastgroup
            if kind in ("ws", "comment"):
                continue
            if kind == "word":
                w = m.group("word").upper()
                if w in ("VALUES", "VALUE") and not in_parens:
                    found_values = True
                    break
                if in_parens:
                    pending.append(m.group("word"))
                continue
            if kind == "bq" and in_parens:
                pending.append(m.group("bq")[1:-1].replace("``", "`"))
                continue
            if kind == "punct":
                p = m.group("punct")
                if p == "(" and not in_parens:
                    in_parens, pending = True, []
                elif p == ")" and in_parens:
                    in_parens, cols = False, pending
                elif p == ";":
                    break
            # anything else inside the header is ignored
        if not found_values:
            continue
        rows, pos = _parse_tuples(text, pos, tok, backslash_escape)
        yield cols, rows


def _parse_tuples(
    text: str, pos: int, tok: re.Pattern, backslash: bool
) -> tuple[list[list[str | None]], int]:
    """Parse (v,v,..),(v,..)...; returning (rows, end_pos)."""
    n = len(text)
    rows: list[list[str | None]] = []
    row: list[str | None] = []
    depth = 0
    # literal-wrapping expression calls (parser.go treats these as
    # expressions around one literal): CONVERT('...' USING cs) in the
    # reference's own vt.json fixture. A frame is [entry_depth,
    # literal_appended]; inside it, exactly the FIRST literal token
    # lands in the row and the function name / USING / charset words
    # are consumed silently.
    fn_stack: list[list] = []
    pending_fn = False
    while pos < n:
        m = tok.match(text, pos)
        if not m:
            pos += 1
            continue
        kind = m.lastgroup
        if depth == 0 and kind == "word" and m.group("word").upper() in (
            "INSERT",
            "REPLACE",
        ):
            # missing ';' before the next statement: rewind, end here
            return rows, pos
        pos = m.end()
        if kind in ("ws", "comment"):
            continue
        if kind == "punct":
            p = m.group("punct")
            if p == "(":
                depth += 1
                if pending_fn and depth >= 2:
                    fn_stack.append([depth, False])
                pending_fn = False
                if depth == 1:
                    row = []
                continue
            if p == ")":
                if fn_stack and depth == fn_stack[-1][0]:
                    fn_stack.pop()
                depth -= 1
                if depth == 0:
                    rows.append(row)
                continue
            if p == ",":
                continue
            if p == ";":
                return rows, pos
            continue
        if depth == 0:
            # junk between tuples (e.g. ON DUPLICATE KEY ...) — skip
            continue
        # a CONVERT not directly followed by "(" was a plain word; the
        # pending flag must not leak onto a later paren
        was_pending, pending_fn = pending_fn, False
        in_fn = bool(fn_stack)
        if in_fn and kind in ("str", "num", "hex", "bin"):
            if fn_stack[-1][1]:
                continue  # only the first literal is the value
            fn_stack[-1][1] = True
        if kind == "word":
            if in_fn:
                continue  # USING / charset-name inside CONVERT(...)
            if m.group("word").upper() == "CONVERT" and not was_pending:
                pending_fn = True
                continue
        row.append(_literal(m, backslash))
    return rows, pos


def _decode(raw: bytes, character_set: str) -> str:
    cs = character_set.lower()
    if cs in ("utf8", "utf8mb4"):
        return raw.decode("utf-8")
    if cs == "gb18030":
        return raw.decode("gb18030")
    if cs == "binary":
        return raw.decode("latin-1")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        try:
            return raw.decode("gb18030")
        except UnicodeDecodeError:
            return raw.decode("latin-1")


def _utf8(raw: bytes, character_set: str) -> bytes:
    """``_decode(raw)`` as UTF-8 bytes, without a copy when ``raw``
    already is UTF-8 and that is how it decodes."""
    if raw.isascii():
        return raw
    if character_set.lower() in ("utf8", "utf8mb4", "auto"):
        try:
            raw.decode("utf-8")
            return raw
        except UnicodeDecodeError:
            if character_set.lower() != "auto":
                raise
    return _decode(raw, character_set).encode("utf-8")


# marks a field position ABSENT from the source row (short VALUES
# tuple) — distinct from an explicit NULL literal; the permutation
# layer fills the column default for it. Control-char framing keeps
# collision with real data out of reach (a dump string would need
# this exact 20-byte sequence).
MISSING_FIELD = "\x00\x1f\x7f__tlr4s_default__\x7f\x1f\x00"

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("_file", T.StringType(), False),
        T.StructField("_row_id", T.LongType(), False),
        T.StructField("_columns", T.ArrayType(T.StringType()), True),
        T.StructField("_fields", T.ArrayType(T.StringType()), True),
    ]
)


_MARKERS = (b"\nINSERT", b"\nREPLACE")
_READ_STEP = 8 << 20


def _find_marker(buf: bytes, frm: int) -> int:
    """First \\nINSERT/\\nREPLACE position at/after ``frm`` (-1: none)."""
    best = -1
    for m in _MARKERS:
        i = buf.find(m, frm)
        if i != -1 and (best == -1 or i < best):
            best = i
    return best


def _read_region(path: str, start: int, end: int) -> tuple[bytes, int] | None:
    """The statements whose marker starts in ``[start, end)``, with
    their absolute byte offset; None when no statement starts there."""
    with open(path, "rb") as fh:
        read_from = max(start - 1, 0)
        fh.seek(read_from)
        # +7: a marker whose pos+1 is inside [start,end) can have its
        # text spill past end-1 — without the overlap no chunk would
        # claim it
        buf = fh.read(end - read_from + 7)
        # region start: first marker with pos+1 >= start
        if start == 0:
            s_abs = 0
        else:
            sm = _find_marker(buf, 0)
            s_abs = read_from + sm + 1 if sm != -1 else -1
        if s_abs == -1 or s_abs >= end:
            return None  # no statement starts in this chunk
        # region end: first marker with pos+1 >= end
        floor = max(end - 1 - read_from, 0)
        search_from = floor
        while True:
            em = _find_marker(buf, search_from)
            if em != -1:
                e_abs = read_from + em + 1
                break
            step = fh.read(_READ_STEP)
            if not step:
                e_abs = read_from + len(buf)
                break
            # back up 7 bytes for a straddling marker, never below the
            # chunk-end floor
            search_from = max(len(buf) - 7, floor)
            buf += step
    if s_abs >= e_abs:
        return None
    return buf[s_abs - read_from : e_abs - read_from], s_abs


def _utf8_head(path: str) -> bool:
    """Head-probe: True when the file looks UTF-8/ASCII (byte-range
    splitting is then safe — ASCII markers can't occur inside UTF-8
    multi-byte sequences; GB18030 second bytes CAN be ASCII letters,
    so non-UTF-8 files stay whole-file)."""
    try:
        head = open(path, "rb").read(65536)
    except OSError:
        return False
    if len(head) == 65536:
        head = head[:-4]  # drop a possibly-truncated trailing char
    try:
        head.decode("utf-8")
        return True
    except UnicodeDecodeError:
        return False


def probe_insert_columns(
    path: str, character_set: str = "auto", backslash_escape: bool = True
) -> list[str] | None:
    """Driver-side peek at the first INSERT's column list (no Spark
    job): mydumper writes the header at the top of every data file,
    so a 64 KiB head + the tolerant tokenizer finds it. None when
    statements carry no column list (the common case — table order
    applies)."""
    try:
        head = open(path, "rb").read(65536)
    except OSError:
        return None
    try:
        text = _decode(head, character_set)
    except UnicodeDecodeError:
        text = head.decode("utf-8", errors="ignore")
    for cols, _rows in _parse_insert_statements_slow(text, backslash_escape):
        return cols
    return None


#: per-SparkContext fallback accumulator (see lexer_fallbacks)
_FALLBACKS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def lexer_fallbacks(spark: SparkSession):
    """The SparkContext's count of chunks the structural lexer declined
    (a Spark accumulator: tasks add to it, ``.value`` reads it once
    the job is done)."""
    sc = spark.sparkContext
    if sc not in _FALLBACKS:
        _FALLBACKS[sc] = sc.accumulator(0)
    return _FALLBACKS[sc]


def _segment_ids(np, buf: bytes, lexed: _Lexed, fbase: int, off: int, divisor: int):
    """Row ids of a byte-range chunk: each ``\\nINSERT``/``\\nREPLACE``
    marker opens an id segment based at its absolute offset
    (``base + (chunk byte offset + char offset in chunk) // divisor``).
    Every marker must be a statement start."""
    marks = [m.start() + 1 for m in _MARKER.finditer(buf)]
    starts = np.array([0] + marks, np.int64)
    if not np.isin(starts[1:], lexed.stmt_starts).all():
        raise _Decline("statement marker inside a statement")
    if not buf.isascii():
        b = np.frombuffer(buf, np.uint8)
        cont = np.flatnonzero((b & 0xC0) == 0x80)
        starts = starts - np.searchsorted(cont, starts)
    bases = fbase + (off + starts) // divisor
    stmt_seg = (
        np.searchsorted(np.array([0] + marks, np.int64), lexed.stmt_starts, "right")
        - 1
    )
    row_seg = np.repeat(stmt_seg, lexed.stmt_rows)
    first = np.searchsorted(row_seg, row_seg)
    return bases[row_seg] + 1 + np.arange(row_seg.size) - first


def _slow_chunk(text: str, backslash: bool, whole: bool, fbase: int, off: int, divisor: int):
    """The tokenizer over one chunk, with the fast path's row ids."""
    if whole:
        segs = [(0, text)]
    else:
        marks = [m.start() + 1 for m in re.finditer(r"\n(?:INSERT|REPLACE)", text)]
        cuts = [0] + marks + [len(text)]
        segs = [(a, text[a:z]) for a, z in zip(cuts[:-1], cuts[1:])]
    stmts: list = []
    ids: list[int] = []
    rid = fbase
    for s0, seg in segs:
        if not whole:
            rid = fbase + (off + s0) // divisor
        for cols, rows in _parse_insert_statements_slow(seg, backslash):
            stmts.append((cols, rows))
            ids.extend(range(rid + 1, rid + 1 + len(rows)))
            rid += len(rows)
    return _Lexed.from_statements(stmts), ids


def read_sql_dump(
    spark: SparkSession,
    files: list[tuple[str, int]],
    character_set: str = "auto",
    backslash_escape: bool = True,
    num_columns: int | None = None,
    split_bytes: int | None = None,
    columnar: bool = False,
    all_files: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Parse mydumper .sql data files into (file, row_id, fields) rows.

    ``files``: (path, size) pairs from the discovery step. Row-id
    bases are reserved per file at plan time with the reference's
    size/divisor estimate (divisor = #cols + 2 for .sql,
    region.go:146-170): ids are unique + deterministic, bounded gaps.

    Task shape: files up to ``split_bytes`` are read whole, packed
    into ``ceil(their bytes / split_bytes)`` tasks, largest file onto
    the lightest task. Large UTF-8 files are **byte-range split**
    (the distributed analog of the reference's statement-boundary
    ReadChunks, lightning/mydump/parser.go:502-535): each task owns
    the statements whose ``\\nINSERT``/``\\nREPLACE`` marker starts
    inside its byte range and reads ahead to the next marker to finish
    the last one — regions tile the file exactly. Per-statement row-id
    bases come from the statement's offset (``base + off //
    divisor``), collision-free for any chunking because every row
    occupies ≥ divisor bytes. Caveat (documented, mydumper-shape
    assumption): a *string literal* containing a raw newline
    immediately followed by INSERT/REPLACE would be mis-split;
    mydumper and this repo's writer always escape newlines in strings.

    ``columnar``: positional ``_c0.._cN`` string columns (short rows
    padded with ``MISSING_FIELD``, long ones cut); else
    ``OUTPUT_SCHEMA``'s ``_fields`` arrays.
    """
    from ..operators.rowid import file_row_bases
    from . import map_tasks

    divisor = max((num_columns or 0) + 2, 1)
    # row-id bases always come from the table's FULL file list:
    # engine-grain resume reads a subset of files per call, and the
    # ids of a file must not depend on which other files ride along
    # (checkpoint resume parity, restore.go:861-870)
    base_map = file_row_bases(
        all_files if all_files is not None else files,
        num_columns or 0,
        is_sql=True,
    )

    if split_bytes is None:
        par = max(spark.sparkContext.defaultParallelism, 1)
        total = sum(sz for _, sz in files)
        split_bytes = min(64 << 20, max(1 << 20, total // par + 1))

    # task = list of (path, start, end, base, whole_file)
    tasks: list[list[tuple[str, int, int, int, bool]]] = []
    small: list[tuple[int, str, int]] = []
    for i, (p, sz) in enumerate(files):
        if (
            sz > split_bytes * 3 // 2
            and backslash_escape
            and character_set.lower() in ("utf8", "utf8mb4", "auto", "binary")
            and _utf8_head(p)
        ):
            for k in range(-(-sz // split_bytes)):
                a, z = k * split_bytes, min((k + 1) * split_bytes, sz)
                tasks.append([(p, a, z, base_map[p], False)])
        else:
            small.append((i, p, sz))
    if small:
        nbins = -(-sum(sz for _, _, sz in small) // split_bytes)
        bins: list[list] = [[] for _ in range(max(nbins, 1))]
        load = [0] * len(bins)
        for i, p, sz in sorted(small, key=lambda f: (-f[2], f[0])):
            k = load.index(min(load))
            bins[k].append((i, p, sz))
            load[k] += sz
        for b in sorted((sorted(b) for b in bins if b), key=lambda b: b[0][0]):
            tasks.append([(p, 0, sz, base_map[p], True) for _, p, sz in b])

    ncols = int(num_columns or 0)
    fallbacks = lexer_fallbacks(spark)

    def lex_chunk(path, start, end, fbase, whole):
        import numpy as np

        if whole:
            with open(path, "rb") as fh:
                region, off = fh.read(), 0
        else:
            got = _read_region(path, start, end)
            if got is None:
                return None
            region, off = got
        buf = _utf8(region, character_set)
        try:
            lexed = _lex(buf, backslash_escape)
            if whole:
                ids = fbase + 1 + np.arange(lexed.num_rows, dtype=np.int64)
            else:
                ids = _segment_ids(np, buf, lexed, fbase, off, divisor)
        except _Decline as why:
            fallbacks.add(1)
            log.warning(
                "sql lexer fallback: %s [%d, %d): %s", path, start, end, why
            )
            lexed, ids = _slow_chunk(
                buf.decode("utf-8"), backslash_escape, whole, fbase, off, divisor
            )
        return lexed, ids

    def to_batch(path, lexed: _Lexed, ids):
        import numpy as np
        import pyarrow as pa

        rid = pa.array(np.asarray(ids, np.int64), pa.int64())
        fields, off = lexed.fields, lexed.row_offsets
        if not columnar:
            stmt = np.repeat(np.arange(len(lexed.stmt_cols)), lexed.stmt_rows)
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([path] * len(stmt), pa.string()),
                    rid,
                    pa.array(lexed.stmt_cols, pa.list_(pa.string())).take(stmt),
                    pa.ListArray.from_arrays(pa.array(off, pa.int32()), fields),
                ],
                names=[f.name for f in OUTPUT_SCHEMA.fields],
            )
        first, width = off[:-1], np.diff(off)
        ragged = bool((width != ncols).any())
        if ragged:
            # short rows read MISSING_FIELD, NOT null: `VALUES ()`
            # means column defaults, an explicit NULL literal means
            # NULL (restore.go:1356-1406); long rows are cut
            missing = len(fields)
            fields = pa.concat_arrays([fields, pa.array([MISSING_FIELD])])
        cols = []
        for j in range(ncols):
            idx = first + j
            if ragged:
                idx = np.where(width > j, idx, missing)
            cols.append(fields.take(pa.array(idx, pa.int64())))
        return pa.RecordBatch.from_arrays(
            [rid] + cols, names=["_row_id"] + [f"_c{j}" for j in range(ncols)]
        )

    def run_task(chunks):
        for path, start, end, fbase, whole in chunks:
            got = lex_chunk(path, start, end, fbase, whole)
            if got is not None and got[0].num_rows:
                yield to_batch(path, *got)

    if columnar:
        out_schema = T.StructType(
            [T.StructField("_row_id", T.LongType(), False)]
            + [T.StructField(f"_c{i}", T.StringType(), True) for i in range(ncols)]
        )
    else:
        out_schema = OUTPUT_SCHEMA
    return map_tasks(spark, tasks, run_task, out_schema)


def project_fields(df: DataFrame, num_columns: int) -> DataFrame:
    """Explode the _fields array into positional string columns.

    A row SHORTER than num_columns marks the absent positions with
    MISSING_FIELD (not NULL): `INSERT INTO t VALUES ()` means "use
    the column defaults" in MySQL, while an explicit NULL literal
    means NULL — the two must stay distinguishable through the
    permutation layer (restore.go:1356-1406 default fill)."""
    arr = F.col("_fields")
    cols = [
        F.when(F.size(arr) > i, arr.getItem(i))
        .otherwise(F.lit(MISSING_FIELD))
        .alias(f"_c{i}")
        for i in range(num_columns)
    ]
    return df.select(F.col("_row_id"), *cols)

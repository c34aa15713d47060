"""Table-driven unit tests for the mydumper .sql lexer — the pytest
twin of lightning/mydump/parser_test.go (860 lines: INSERT lexing,
hex/bin literals, premature EOF, keywords-as-comments)."""

from __future__ import annotations

import pytest

from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
    parse_insert_statements,
)


def parse_all(text: str, backslash: bool = True):
    return list(parse_insert_statements(text, backslash))


def rows_of(text: str):
    out = []
    for _, rows in parse_all(text):
        out.extend(rows)
    return out


def test_basic_insert():
    got = parse_all("INSERT INTO t VALUES (1, 'a'), (2, 'b');")
    assert got == [(None, [["1", "a"], ["2", "b"]])]


def test_column_list():
    cols, rows = parse_all(
        "INSERT INTO `t` (`a`, b, `weird``name`) VALUES (1, 2, 3);"
    )[0]
    assert cols == ["a", "b", "weird`name"]
    assert rows == [["1", "2", "3"]]


def test_literals():
    (_, rows), = parse_all(
        "INSERT INTO t VALUES (NULL, TRUE, FALSE, -123, 4.5, 1e10, .5);"
    )
    assert rows == [[None, "1", "0", "-123", "4.5", "1e10", ".5"]]


def test_hex_bin_literals():
    # parser.go:474-485 / parser.rl:64-65
    (_, rows), = parse_all(
        "INSERT INTO t VALUES (0xABcd, x'ff00', X'', 0b101, b'1', b'');"
    )
    assert rows == [["0xABCD", "0xFF00", "0x", "0x5", "0x1", "0x"]]


def test_string_escapes():
    (_, rows), = parse_all(
        r"INSERT INTO t VALUES ('a\nb', 'it''s', 'q\'q', 'tab\there', '\Z');"
    )
    assert rows == [["a\nb", "it's", "q'q", "tab\there", "\x1a"]]


def test_no_backslash_escapes_mode():
    # NO_BACKSLASH_ESCAPES: backslash is a plain char (parser.go:motes)
    (_, rows), = parse_all(
        r"INSERT INTO t VALUES ('a\nb', 'it''s');", backslash=False
    )
    assert rows == [["a\\nb", "it's"]]


def test_double_quoted_strings():
    (_, rows), = parse_all('INSERT INTO t VALUES ("x", "do""ble");')
    assert rows == [["x", 'do"ble']]


def test_non_insert_statements_skipped():
    # tolerant lexer: DDL/SET are treated like comments (parser.rl)
    text = """
    /*!40101 SET NAMES binary*/;
    DROP TABLE IF EXISTS `t`;
    CREATE TABLE t (x INT) /* inline comment */;
    -- a line comment with INSERT INTO words that must not trigger
    INSERT INTO t VALUES (7);
    ANALYZE TABLE t;
    INSERT INTO t VALUES (8);
    """
    assert rows_of(text) == [["7"], ["8"]]


def test_multiple_statements_and_replace():
    text = (
        "INSERT INTO a VALUES (1);\n"
        "REPLACE INTO b VALUES (2);\n"
        "INSERT INTO c (x) VALUES (3);"
    )
    got = parse_all(text)
    assert [r for _, rows in got for r in rows] == [["1"], ["2"], ["3"]]
    assert got[2][0] == ["x"]


def test_missing_semicolon_resync():
    # next INSERT begins before ';' — parser must resync
    text = "INSERT INTO a VALUES (1)\nINSERT INTO a VALUES (2);"
    assert rows_of(text) == [["1"], ["2"]]


def test_premature_eof():
    # parser_test.go exercises EOF mid-tuple: yield what was complete
    assert rows_of("INSERT INTO t VALUES (1, 'a'), (2,") == [["1", "a"]]


def test_values_keyword_caseless_and_value():
    assert rows_of("insert into t value (9);") == [["9"]]
    assert rows_of("InSeRt InTo t VaLuEs (10);") == [["10"]]


def test_strings_with_separators_inside():
    (_, rows), = parse_all(
        "INSERT INTO t VALUES ('a,b', 'c)d', '(e', ';f');"
    )
    assert rows == [["a,b", "c)d", "(e", ";f"]]


def test_comments_inside_statement():
    assert rows_of(
        "INSERT INTO t /* c */ VALUES /* c2 */ (1), -- tail\n (2);"
    ) == [["1"], ["2"]]


def test_unicode_values():
    (_, rows), = parse_all("INSERT INTO t VALUES ('中文', '🙂');")
    assert rows == [["中文", "🙂"]]


# -- fast path & byte-range split --------------------------------------------


#: every statement text this module parses, plus shapes only the
#: tokenizer handles: the structural lexer must match it on each one
#: or decline
CORPUS = [
    "INSERT INTO t VALUES (1, 'a'), (2, 'b');",
    "INSERT INTO `t` (`a`, b, `weird``name`) VALUES (1, 2, 3);",
    "INSERT INTO t VALUES (NULL, TRUE, FALSE, -123, 4.5, 1e10, .5);",
    "INSERT INTO t VALUES (0xABcd, x'ff00', X'', 0b101, b'1', b'');",
    r"INSERT INTO t VALUES ('a\nb', 'it''s', 'q\'q', 'tab\there', '\Z');",
    r"INSERT INTO t VALUES ('a\nb', 'it''s');",
    'INSERT INTO t VALUES ("x", "do""ble");',
    """
    /*!40101 SET NAMES binary*/;
    DROP TABLE IF EXISTS `t`;
    CREATE TABLE t (x INT) /* inline comment */;
    -- a line comment with INSERT INTO words that must not trigger
    INSERT INTO t VALUES (7);
    ANALYZE TABLE t;
    INSERT INTO t VALUES (8);
    """,
    "INSERT INTO a VALUES (1);\nREPLACE INTO b VALUES (2);\n"
    "INSERT INTO c (x) VALUES (3);",
    "INSERT INTO a VALUES (1)\nINSERT INTO a VALUES (2);",
    "INSERT INTO t VALUES (1, 'a'), (2,",
    "insert into t value (9);",
    "InSeRt InTo t VaLuEs (10);",
    "INSERT INTO t VALUES ('a,b', 'c)d', '(e', ';f');",
    "INSERT INTO t /* c */ VALUES /* c2 */ (1), -- tail\n (2);",
    "INSERT INTO t VALUES ('中文', '🙂');",
    "INSERT INTO `db`.`t` (a,`b`) VALUES (NULL,TRUE),(FALSE,-1.5e3);",
    r"INSERT INTO t VALUES ('it''s','a\nb'),('c\\d','e');",
    "INSERT INTO t VALUES (0x1A2b, x'4F', b'101', 0b11, x'', b'');",
    "-- c\nINSERT /*x*/ INTO t VALUES ('a;b','c,(d)');",
    "CREATE TABLE x (a int);\nINSERT INTO x VALUES (1);\nSET foo=1;",
    "INSERT INTO t VALUES (1,'a') ON DUPLICATE KEY UPDATE a=1;",
    'INSERT INTO t VALUES ("dq\'\'","x""y");',
    "insert into t values (1),(2) insert into t values (3);",
    "/*!40101 SET NAMES binary*/;\nINSERT INTO `t` VALUES\n(1,'a'),\n(2,NULL);\n",
    "INSERT INTO t VALUES (CONVERT('x' USING utf8mb4), 2);",
    "INSERT INTO t VALUES ();",
    "INSERT INTO t VALUES (1,,2);",
    "INSERT INTO t VALUES (1 2);",
    "INSERT INTO t VALUES ((1));",
    "INSERT INTO values (a) VALUES (1);",
    "SET @a = 'INSERT INTO t VALUES (1)'; INSERT INTO t VALUES (2);",
    "/* a; b */ INSERT INTO t VALUES (1);",
    "INSERT INTO t VALUES ('a' 'b'), (-.5, +1, 5., 1.2.3);",
    "INSERT INTO t VALUES (`bq`, abc, null, True);",
]


def test_fast_path_equals_tokenizer_on_tricky_inputs():
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        _parse_insert_statements_slow,
        parse_insert_statements,
    )

    for backslash in (True, False):
        for c in CORPUS:
            assert list(parse_insert_statements(c, backslash)) == list(
                _parse_insert_statements_slow(c, backslash)
            ), c


@pytest.mark.parametrize("backslash", [True, False])
def test_structural_lexer_matches_tokenizer_or_declines(backslash):
    """The numpy lexer either returns exactly the tokenizer's
    statements or declines; the declines are counted, and the
    mydumper-shaped part of the corpus is never among them."""
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        _Decline,
        _lex,
        _parse_insert_statements_slow,
    )

    declined = []
    for c in CORPUS:
        want = list(_parse_insert_statements_slow(c, backslash))
        try:
            got = _lex(c.encode("utf-8"), backslash).statements()
        except _Decline:
            declined.append(c)
            continue
        assert got == want, c
    assert CORPUS[0] not in declined and CORPUS[24] not in declined
    # comments inside statements, CONVERT(), empty fields, ...
    assert len(declined) >= 16, declined


def test_dump_writer_output_never_falls_back(tmp_path):
    """Everything write_dump_table renders stays on the fast path."""
    import datetime

    import pandas as pd

    from tidb_lightning_release_4_0_spark.sources.dump_writer import (
        write_dump_table,
    )
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        _lex,
        _parse_insert_statements_slow,
    )

    nasty = ["", "it's", "a\\b", 'q"q', "`", ";", "(,)", "l1\nl2", "\0\r\t", "中文🙂"]
    pdf = pd.DataFrame(
        {
            "i": [k - 5 for k in range(len(nasty))],
            "f": [1.5e-7, -2.25, 3.0, float("nan"), 1e300, 0.1, -0.0, 7.0, 8.5, 9.0],
            "s": nasty,
            "n": [None, "x"] * 5,
            "b": [bytes([k, 255 - k]) for k in range(len(nasty))],
            "t": [datetime.datetime(2020, 1, 2, 3, 4, 5)] * len(nasty),
            "ok": [True, False] * 5,
        }
    )
    write_dump_table(str(tmp_path), "db", "t", pdf, "CREATE TABLE t (i INT)", fmt="sql")
    raw = (tmp_path / "db.t.sql").read_bytes()
    got = _lex(raw).statements()  # raises on a fallback
    assert got == list(_parse_insert_statements_slow(raw.decode("utf-8")))
    assert [r[2] for r in got[0][1]] == nasty


def test_byte_range_split_matches_whole_file(spark, tmp_path):
    """Chunked .sql reads must yield identical field rows with unique
    ids for any split size, including splits landing mid-statement and
    mid-string."""
    import random

    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        read_sql_dump,
    )

    rng = random.Random(7)
    stmts = []
    for s in range(40):
        vals = ",".join(
            "(%d,'%s')"
            % (s * 100 + i, "v" + "x" * rng.randrange(0, 30) + "'',)(")
            for i in range(rng.randrange(1, 50))
        )
        stmts.append(f"INSERT INTO t VALUES {vals};")
    p = tmp_path / "tpch.t.sql"
    p.write_text("\n".join(stmts), encoding="utf-8")
    sz = p.stat().st_size
    files = [(str(p), sz)]

    def fetch(split):
        df = read_sql_dump(spark, files, "auto", num_columns=2, split_bytes=split)
        rows = df.collect()
        return (
            [r["_row_id"] for r in rows],
            sorted(tuple(r["_fields"]) for r in rows),
        )

    ids_w, f_w = fetch(sz * 2)
    for split in (256, 1000, sz // 3):
        ids, f = fetch(split)
        assert len(set(ids)) == len(ids) == len(ids_w)
        assert f == f_w, f"split={split} diverged"


def _expected_rows(files, ncols, split):
    """The tokenizer's (row_id, fields) for ``files`` read as
    read_sql_dump reads them: whole files with dense ids from the file
    base, byte-range chunks with ids based at each statement marker's
    character offset."""
    from tidb_lightning_release_4_0_spark.operators.rowid import file_row_bases
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        _read_region,
        _slow_chunk,
    )

    bases = file_row_bases(files, ncols, is_sql=True)
    out = []
    for p, sz in files:
        if split and sz > split * 3 // 2:
            chunks = [
                (k * split, min((k + 1) * split, sz)) for k in range(-(-sz // split))
            ]
        else:
            chunks = [None]
        for c in chunks:
            if c is None:
                text, off, whole = open(p, encoding="utf-8").read(), 0, True
            else:
                got = _read_region(p, *c)
                if got is None:
                    continue
                text, off, whole = got[0].decode("utf-8"), got[1], False
            lexed, ids = _slow_chunk(text, True, whole, bases[p], off, ncols + 2)
            rows = [r for _, rs in lexed.statements() for r in rs]
            out += [(i, tuple(r)) for i, r in zip(ids, rows)]
    return sorted(out)


def test_read_sql_dump_matches_tokenizer_packed_and_split(spark, tmp_path):
    """The fast read gives the tokenizer's (_row_id, fields) exactly,
    for small files packed into one task and for byte-range split
    files, with non-ASCII text moving char offsets off byte offsets."""
    import random

    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        lexer_fallbacks,
        read_sql_dump,
    )

    rng = random.Random(11)
    files = []
    for k, n_stmts in enumerate([1, 3, 2, 40]):
        stmts = []
        for s in range(n_stmts):
            vals = ",\n".join(
                "(%d,'%s',%s)"
                % (
                    s * 100 + i,
                    rng.choice(["é", "中文", "x", "🙂"]) * rng.randrange(0, 9) + "'')(",
                    rng.choice(["NULL", "-1.5", "0x1F", "'a\\'b'"]),
                )
                for i in range(rng.randrange(1, 30))
            )
            stmts.append(f"INSERT INTO `t` VALUES\n{vals};")
        p = tmp_path / f"db.t.{k:04d}.sql"
        p.write_text("/*!40101 SET NAMES binary*/;\n" + "\n".join(stmts), encoding="utf-8")
        files.append((str(p), p.stat().st_size))
    big = files[-1][1]

    acc = lexer_fallbacks(spark)
    before = acc.value
    for split in (big * 4, 700, big // 3):
        df = read_sql_dump(spark, files, "auto", num_columns=3, split_bytes=split)
        got = sorted((r["_row_id"], tuple(r["_fields"])) for r in df.collect())
        assert got == _expected_rows(files, 3, split), f"split={split}"
        cdf = read_sql_dump(
            spark, files, "auto", num_columns=3, split_bytes=split, columnar=True
        )
        got_c = sorted((r[0], tuple(r[1:])) for r in cdf.collect())
        assert got_c == got
    # the packed read is one task for the whole table
    packed = read_sql_dump(spark, files, "auto", num_columns=3, split_bytes=big * 4)
    assert packed.rdd.getNumPartitions() == 1
    assert acc.value == before  # all on the fast path


def test_read_sql_dump_counts_fallbacks(spark, tmp_path):
    """A file outside the lexer's shape is parsed whole by the
    tokenizer and counted once; short rows pad with MISSING_FIELD."""
    from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
        MISSING_FIELD,
        lexer_fallbacks,
        read_sql_dump,
    )

    p = tmp_path / "db.t.sql"
    p.write_text(
        "INSERT INTO t VALUES (1, 'a') /* c */, (2);\n"
        "INSERT INTO t VALUES (CONVERT('x' USING utf8mb4), NULL);\n"
    )
    acc = lexer_fallbacks(spark)
    before = acc.value
    df = read_sql_dump(
        spark, [(str(p), p.stat().st_size)], num_columns=2, columnar=True
    )
    rows = [tuple(r) for r in df.orderBy("_row_id").collect()]
    assert [r[1:] for r in rows] == [("1", "a"), ("2", MISSING_FIELD), ("x", None)]
    assert acc.value == before + 1

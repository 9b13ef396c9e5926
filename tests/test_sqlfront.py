"""SQL table-function front-end (qurio_spark/sqlfront.py): rewrite
correctness, literal parsing, and end-to-end parity of the SQL route
with the Python-API route for hybrid search."""

import pytest

from qurio_spark.sqlfront import (
    SqlFunctionError,
    SqlFunctions,
    parse_args,
    _find_calls,
)


class TestParseArgs:
    def test_positional_literals(self):
        pos, kw = parse_args("'a b', 10, 0.5, true, NULL")
        assert pos == ["a b", 10, 0.5, True, None]
        assert kw == {}

    def test_keyword_arrow(self):
        pos, kw = parse_args("'q', k => 10, alpha => 0.25")
        assert pos == ["q"]
        assert kw == {"k": 10, "alpha": 0.25}

    def test_quote_doubling(self):
        pos, _ = parse_args("'it''s'")
        assert pos == ["it's"]

    def test_backslash_escapes_decoded(self):
        pos, _ = parse_args(r"'it\'s', 'a\\b', 'x\ny'")
        assert pos == ["it's", "a\\b", "x\ny"]

    def test_double_quoted_string_arg(self):
        pos, _ = parse_args('"a b", 2')
        assert pos == ["a b", 2]

    def test_unicode_and_octal_escapes(self):
        pos, _ = parse_args(r"'caf\u00e9', '\101\66'")
        assert pos == ["café", "A6"]

    def test_comment_inside_argument_list(self):
        pos, kw = parse_args("'q' /* top-k */, 2 -- tail")
        assert pos == ["q", 2] and kw == {}

    def test_empty_keyword_value_fails_loudly(self):
        with pytest.raises(SqlFunctionError):
            parse_args("k => , 1")

    def test_unary_plus_number(self):
        pos, _ = parse_args("+5, +0.5")
        assert pos == [5, 0.5]

    def test_comma_inside_string(self):
        pos, _ = parse_args("'a, b', 2")
        assert pos == ["a, b", 2]

    def test_positional_after_keyword_rejected(self):
        with pytest.raises(SqlFunctionError):
            parse_args("k => 1, 'q'")

    def test_non_literal_rejected(self):
        with pytest.raises(SqlFunctionError):
            parse_args("col_name")

    def test_empty_argument_rejected(self):
        with pytest.raises(SqlFunctionError):
            parse_args("1, , 2")


class TestFindCalls:
    NAMES = {"hybrid_search"}

    def test_basic(self):
        sql = "SELECT * FROM hybrid_search('q', 5)"
        [(s, e, name, args)] = list(_find_calls(sql, self.NAMES))
        assert name == "hybrid_search"
        assert sql[s:e] == "hybrid_search('q', 5)"
        assert args == "'q', 5"

    def test_inside_string_untouched(self):
        sql = "SELECT 'call hybrid_search(1)' AS note FROM t"
        assert list(_find_calls(sql, self.NAMES)) == []

    def test_prefixed_identifier_untouched(self):
        sql = "SELECT my_hybrid_search(1) FROM t"
        assert list(_find_calls(sql, self.NAMES)) == []
        sql2 = "SELECT s.hybrid_search(1) FROM t s"
        assert list(_find_calls(sql2, self.NAMES)) == []

    def test_name_without_parens_untouched(self):
        sql = "SELECT hybrid_search FROM t"
        assert list(_find_calls(sql, self.NAMES)) == []

    def test_nested_parens_and_two_calls(self):
        sql = ("SELECT * FROM hybrid_search('a(b)', 1) h "
               "JOIN hybrid_search('c', 2) g ON h.id = g.id")
        calls = list(_find_calls(sql, self.NAMES))
        assert [c[3] for c in calls] == ["'a(b)', 1", "'c', 2"]

    def test_case_insensitive_name(self):
        sql = "SELECT * FROM HYBRID_SEARCH('q', 1)"
        [(_, _, name, _)] = list(_find_calls(sql, self.NAMES))
        assert name == "hybrid_search"

    def test_unbalanced_parens_raise(self):
        with pytest.raises(SqlFunctionError):
            list(_find_calls("SELECT * FROM hybrid_search('q'", self.NAMES))

    def test_backslash_escaped_quote_in_literal(self):
        # Spark's default lexer honors \' — the scanner must agree on
        # the string boundary or valid SQL is rejected
        sql = r"SELECT 'it\'s fine' AS c FROM hybrid_search('q', 1)"
        [(s, e, name, args)] = list(_find_calls(sql, self.NAMES))
        assert args == "'q', 1"

    def test_even_escaped_quotes_do_not_flip_boundary(self):
        # two escaped quotes inside one literal: a doubling-only
        # scanner would close the string early and rewrite the call
        # spelled INSIDE it
        sql = r"SELECT 'a\'b\'c hybrid_search(1)' AS c FROM t"
        assert list(_find_calls(sql, self.NAMES)) == []

    def test_double_quoted_string_untouched(self):
        # "..." is a STRING literal in default Spark SQL, not an
        # identifier — its contents must never be rewritten
        sql = 'SELECT "call hybrid_search(1)" AS note FROM t'
        assert list(_find_calls(sql, self.NAMES)) == []

    def test_line_comment_skipped(self):
        sql = "SELECT 1 AS x -- see hybrid_search('q', 1)\nFROM t"
        assert list(_find_calls(sql, self.NAMES)) == []

    def test_block_comment_skipped_nested(self):
        sql = "SELECT /* outer /* hybrid_search(todo) */ note */ 1 FROM t"
        assert list(_find_calls(sql, self.NAMES)) == []

    def test_comment_then_real_call(self):
        sql = ("-- hybrid_search(not a call)\n"
               "SELECT * FROM hybrid_search('q', 2)")
        [(_, _, _, args)] = list(_find_calls(sql, self.NAMES))
        assert args == "'q', 2"

    def test_unterminated_block_comment_raises(self):
        with pytest.raises(SqlFunctionError):
            list(_find_calls("SELECT 1 /* oops", self.NAMES))

    def test_backtick_identifier_shields_specials(self):
        # `a--b` is an identifier: the -- inside must not start a
        # comment, and `a"b` must not open a string
        sql = "SELECT `a--b` AS c FROM hybrid_search('q', 1)"
        [(_, _, _, args)] = list(_find_calls(sql, self.NAMES))
        assert args == "'q', 1"
        sql2 = 'SELECT `a"b` FROM hybrid_search(\'q\', 1)'
        [(_, _, _, args2)] = list(_find_calls(sql2, self.NAMES))
        assert args2 == "'q', 1"

    def test_unterminated_backtick_raises(self):
        with pytest.raises(SqlFunctionError):
            list(_find_calls("SELECT `oops FROM t", self.NAMES))

    def test_comment_between_name_and_parens(self):
        sql = "SELECT * FROM hybrid_search /* k */ ('q', 1)"
        [(_, _, _, args)] = list(_find_calls(sql, self.NAMES))
        assert args == "'q', 1"


class TestSqlFunctions:
    def test_rewrite_runs_and_drops_views(self, spark):
        fns = SqlFunctions(spark)
        fns.register(
            "nums",
            lambda sp, n, start=0: sp.range(start, start + n)
            .selectExpr("id AS v"),
        )
        df = fns.sql(
            "SELECT a.v, b.v AS w FROM nums(3) a "
            "JOIN nums(3, start => 1) b ON a.v = b.v ORDER BY a.v"
        )
        assert [(r["v"], r["w"]) for r in df.collect()] == [(1, 1), (2, 2)]
        # views dropped after analysis
        leftover = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("_qsql_")
        ]
        assert leftover == []

    def test_views_dropped_on_builder_error(self, spark):
        fns = SqlFunctions(spark)
        fns.register("ok", lambda sp: sp.range(1))
        fns.register("boom", lambda sp: (_ for _ in ()).throw(RuntimeError))
        with pytest.raises(RuntimeError):
            fns.sql("SELECT * FROM ok() JOIN boom() ON true")
        leftover = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("_qsql_")
        ]
        assert leftover == []

    def test_non_dataframe_result_rejected(self, spark):
        fns = SqlFunctions(spark)
        fns.register("bad", lambda sp: 42)
        with pytest.raises(SqlFunctionError):
            fns.sql("SELECT * FROM bad()")

    def test_unregistered_name_left_for_spark(self, spark):
        fns = SqlFunctions(spark)
        # sum() is a real SQL function — the rewriter must not touch it
        df = fns.sql("SELECT sum(id) AS s FROM range(4)")
        assert df.collect()[0]["s"] == 6

    def test_invalid_name_rejected(self, spark):
        fns = SqlFunctions(spark)
        with pytest.raises(SqlFunctionError):
            fns.register("no-dash", lambda sp: sp.range(1))

    def test_builder_caches_propagate_to_result(self, spark):
        """A builder that persists + attaches (the cachectl protocol,
        e.g. curate's bucketed path at scale) must hand its cache to
        the frame sql() returns — the builder's own wrapper object is
        discarded, so without the hand-off the persist would leak."""
        from qurio_spark.operators.cachectl import (
            attach_caches,
            cached_frames,
            release_caches,
        )

        def cached(sp):
            df = sp.range(5).selectExpr("id AS v").persist()
            return attach_caches(df.selectExpr("v"), [df])

        fns = SqlFunctions(spark)
        fns.register("cached", cached)
        res = fns.sql("SELECT sum(v) AS s FROM cached()")
        assert res.collect()[0]["s"] == 10
        frames = cached_frames(res)
        assert len(frames) == 1 and frames[0].storageLevel.useMemory
        assert release_caches(res) == 1
        assert not frames[0].storageLevel.useMemory


class TestHybridSqlParity:
    def test_sql_route_matches_python_api(self, spark, sf_dir):
        """The driver-window entry q_hybrid_topk now runs through the
        SQL surface; pin it against the direct operator call."""
        from qurio_spark.functions.numeric import stable_round
        from qurio_spark.operators.hybrid import hybrid_search
        from qurio_spark.queries.common import (
            QUERY_TEXT,
            _docs_with_vecs,
            _qvec,
        )
        from qurio_spark.queries.search import q_hybrid_topk

        via_sql = {
            (r["doc_id"], r["score"]) for r in
            q_hybrid_topk(spark, sf_dir).collect()
        }
        direct = hybrid_search(
            _docs_with_vecs(spark, sf_dir), QUERY_TEXT,
            _qvec(spark, sf_dir), alpha=0.5, limit=10,
        ).select("doc_id", stable_round("score", 4).alias("score"))
        via_api = {(r["doc_id"], r["score"]) for r in direct.collect()}
        assert via_sql == via_api and len(via_sql) == 10

    def test_bm25_search_sql(self, spark, sf_dir):
        from qurio_spark.queries.search import register_search_sql

        fns = register_search_sql(spark, sf_dir)
        df = fns.sql(
            "SELECT doc_id FROM bm25_search('hash join spark', k => 5)"
        )
        assert df.count() == 5


class TestParserProperties:
    """Hypothesis round-trips for the literal parser and the
    string-aware call recognizer (no Spark needed)."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _literal = st.one_of(
        st.text(max_size=30),
        st.integers(min_value=-10**12, max_value=10**12),
        st.floats(
            allow_nan=False, allow_infinity=False,
            min_value=-1e9, max_value=1e9,
        ),
        st.booleans(),
        st.none(),
    )

    @staticmethod
    def _render(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            # backslash is an escape character in Spark's default
            # lexer (and now in the parser) — escape it before quoting
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        return repr(v)

    @given(vals=st.lists(_literal, min_size=1, max_size=6))
    @settings(max_examples=200, deadline=None)
    def test_parse_args_roundtrip(self, vals):
        text = ", ".join(self._render(v) for v in vals)
        pos, kw = parse_args(text)
        assert kw == {}
        assert len(pos) == len(vals)
        for got, want in zip(pos, vals):
            if isinstance(want, float):
                assert isinstance(got, float) and got == pytest.approx(want)
            else:
                assert got == want and type(got) is type(want)

    @given(vals=st.lists(_literal, min_size=1, max_size=4))
    @settings(max_examples=100, deadline=None)
    def test_keyword_roundtrip(self, vals):
        text = ", ".join(
            f"k{i} => {self._render(v)}" for i, v in enumerate(vals)
        )
        _, kw = parse_args(text)
        assert len(kw) == len(vals)
        for i, want in enumerate(vals):
            got = kw[f"k{i}"]
            if isinstance(want, float):
                assert got == pytest.approx(want)
            else:
                assert got == want

    @given(s=st.text(max_size=40))
    @settings(max_examples=200, deadline=None)
    def test_call_inside_string_never_matches(self, s):
        """A registered-name call spelled INSIDE a SQL string literal
        must never be rewritten, whatever surrounds it."""
        lit = "'" + (s + " fn(1) ").replace("'", "''") + "'"
        sql = f"SELECT {lit} AS c FROM fn(2)"
        calls = list(_find_calls(sql, {"fn"}))
        assert [sql[a:b] for a, b, _, _ in calls] == ["fn(2)"]

    @given(args=st.lists(_literal, min_size=0, max_size=3))
    @settings(max_examples=100, deadline=None)
    def test_find_then_parse_composes(self, args):
        argtext = ", ".join(self._render(v) for v in args)
        sql = f"SELECT * FROM fn({argtext})"
        [(_, _, name, found)] = list(_find_calls(sql, {"fn"}))
        assert name == "fn"
        pos, kw = parse_args(found)
        assert len(pos) == len(args) and kw == {}

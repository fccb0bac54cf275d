"""Unit tests for functions.expressions (SURVEY §2.5 operators)."""

import datetime

from pyspark.sql import functions as F

from peskas_malawi_data_pipeline_spark.functions import expressions as E


def test_coalesce_cols_skips_absent(spark):
    df = spark.createDataFrame([(None, "b"), ("a", None)], ["x", "y"])
    out = df.select(E.coalesce_cols(df, "missing", "x", "y").alias("v")).collect()
    assert [r.v for r in out] == ["b", "a"]


def test_coalesce_by_suffix(spark):
    df = spark.createDataFrame(
        [(None, 2.0, None), (1.0, None, None)],
        "gear_n_hrs double, longline_n_hrs double, other double")
    out = df.select(E.coalesce_by_suffix(df, "n_hrs").alias("v")).collect()
    assert [r.v for r in out] == [2.0, 1.0]


def test_case_when_first_match_wins(spark):
    df = spark.createDataFrame([(1,), (5,), (50,)], ["x"])
    expr = E.case_when([(F.col("x") < 3, "low"), (F.col("x") < 10, "mid")],
                       otherwise="high")
    assert [r.v for r in df.select(expr.alias("v")).collect()] == ["low", "mid", "high"]


def test_recode_keeps_unmapped(spark):
    df = spark.createDataFrame([("B+E",), ("Dugout Canoe",), ("other",)], ["v"])
    expr = E.recode(F.col("v"), {"B+E": "boat_engine", "Dugout Canoe": "dugout"})
    assert [r.o for r in df.select(expr.alias("o")).collect()] == [
        "boat_engine", "dugout", "other"]


def test_price_per_kg_total_vs_unit(spark):
    df = spark.createDataFrame(
        [(100.0, 4.0, "total"), (25.0, 4.0, "per_kg"), (100.0, 0.0, "total")],
        ["price", "kg", "ptype"])
    expr = E.price_per_kg(F.col("price"), F.col("kg"), F.col("ptype"))
    out = [r.v for r in df.select(expr.alias("v")).collect()]
    assert out[0] == 25.0 and out[1] == 25.0 and out[2] is None


def test_survey_id_concat(spark):
    df = spark.createDataFrame([("s1", 2, 3)], ["sid", "vn", "cn"])
    out = df.select(E.make_survey_id(F.col("sid"), F.col("vn"), F.col("cn")).alias("k")).collect()
    assert out[0].k == "s1-2-3"


def test_split_gps_null_pads(spark):
    # Q7: fewer than 4 tokens must NULL-pad, not error.
    df = spark.createDataFrame([("-13.5 34.2 100 5",), ("-13.5",), (None,)], ["gps"])
    cols = E.split_gps(F.col("gps"))
    out = df.select(cols["lat"].alias("lat"), cols["lon"].alias("lon")).collect()
    assert out[0].lat == -13.5 and out[0].lon == 34.2
    assert out[1].lat == -13.5 and out[1].lon is None
    assert out[2].lat is None


def test_local_date_blantyre_day_boundary(spark):
    # 23:30 UTC is already the next civil day in Africa/Blantyre (UTC+2).
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 5, 1, 23, 30),), (datetime.datetime(2024, 5, 1, 12, 0),)],
        ["ts"])
    out = df.select(E.local_date(F.col("ts")).alias("d")).collect()
    assert out[0].d == datetime.date(2024, 5, 2)
    assert out[1].d == datetime.date(2024, 5, 1)


def test_floor_time_10min(spark):
    df = spark.createDataFrame([(datetime.datetime(2024, 5, 1, 12, 17, 45),)], ["ts"])
    out = df.select(E.floor_time(F.col("ts"), 10).alias("b")).collect()
    assert out[0].b == datetime.datetime(2024, 5, 1, 12, 10, 0)


def test_normalize_imei(spark):
    df = spark.createDataFrame([(-356938.0,), (123456789012345.0,), (None,)], ["imei"])
    out = df.select(E.normalize_imei(F.col("imei")).alias("v")).collect()
    assert [r.v for r in out] == ["356938", "123456789012345", None]


def test_salted_join_equals_unsalted(spark):
    """Skew tool correctness: salting redistributes work without changing
    join semantics (operators.joins.salted_join)."""
    from pyspark.sql import Row, functions as F

    from peskas_malawi_data_pipeline_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [Row(k="hot", v=i) for i in range(200)]
        + [Row(k="cold", v=i) for i in range(5)])
    dim = spark.createDataFrame(
        [Row(k="hot", label="H"), Row(k="cold", label="C"), Row(k="never", label="N")])

    plain = fact.join(dim, "k").groupBy("k", "label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    salted = salted_join(fact, dim, ["k"], salt_buckets=8).groupBy("k", "label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    left_plain = fact.join(dim, "k", "left").count()
    left_salted = salted_join(fact, dim, ["k"], salt_buckets=8, how="left").count()
    assert left_plain == left_salted


def test_text_functions_match_python_reference(spark):
    """Differential test: the JVM column implementations of the text
    extension agree with straightforward Python reference implementations
    on adversarial inputs (unicode, empty, whitespace runs, punctuation
    soup, long tokens)."""
    import random
    import re

    from pyspark.sql import Row, functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    rng = random.Random(7)
    pieces = ["the", "and", "of", "fish", "Ndunduma", "ücher", "名前", "a",
              "x" * 300, "1,2.3!", "(bra)ck[ets]", "", " ", "\t", "\n\n",
              "der", "und", "le", "la", "el", "que", "...", "?!?"]
    texts = [" ".join(rng.choices(pieces, k=rng.randint(0, 40)))
             for _ in range(200)] + ["", " ", "\t\n ", "one"]

    def py_tokens(s):
        return [t for t in re.split(r"\s+", s.strip().lower()) if t]

    def py_punct_ratio(s):
        if not len(s):
            return 0.0
        punct = len(re.findall(r"[\.,;:!\?\"'\(\)\[\]\{\}]", s))
        return punct / len(s)

    def py_stop_ratio(s):
        t = py_tokens(s)
        if not t:
            return 0.0
        return sum(1 for w in t if w in T.LANG_MARKERS["en"]) / len(t)

    def py_ngrams(s, n):
        t = py_tokens(s)
        if len(t) <= n:
            return [" ".join(t)]
        return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]

    def py_dup_ratio(s, n):
        g = py_tokens(s) if n == 1 else py_ngrams(s, n)
        if not g:
            return 0.0
        return (len(g) - len(set(g))) / len(g)

    df = spark.createDataFrame([Row(i=i, text=s) for i, s in enumerate(texts)])
    got = {r["i"]: r for r in df.select(
        "i",
        T.token_count(F.col("text")).alias("n"),
        F.size(T.word_shingles(F.col("text"), 3)).alias("n_sh"),
        T.punct_ratio(F.col("text")).alias("pr"),
        T.stopword_ratio(F.col("text")).alias("sr"),
        T.quality_score(F.col("text")).alias("q"),
        T.dup_ngram_ratio(F.col("text"), 1).alias("dup1"),
        T.dup_ngram_ratio(F.col("text"), 2).alias("dup2"),
    ).collect()}

    for i, s in enumerate(texts):
        r = got[i]
        assert r["n"] == len(py_tokens(s)), (i, s)
        # every doc with >=1 token gets >=1 shingle; token-less docs get 0
        # (cross-engine totality pinned by test_tokenizer_differential)
        assert r["n_sh"] >= (1 if py_tokens(s) else 0), (i, s)
        assert (r["n_sh"] == 0) == (not py_tokens(s)), (i, s)
        assert abs(r["pr"] - py_punct_ratio(s)) < 1e-12, (i, s)
        assert abs(r["sr"] - py_stop_ratio(s)) < 1e-12, (i, s)
        assert 0.0 <= r["q"] <= 1.0
        assert abs(r["dup1"] - py_dup_ratio(s, 1)) < 1e-12, (i, s)
        assert abs(r["dup2"] - py_dup_ratio(s, 2)) < 1e-12, (i, s)


def test_asof_join_semantics(spark):
    """Backward as-of: greatest right ts <= left ts; equal-ts right row
    matches; no prior right row -> NULL; tolerance drops stale matches."""
    from pyspark.sql import Row

    from peskas_malawi_data_pipeline_spark.operators.joins import asof_join

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(s):
        return t + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [Row(k=1, ts=at(0)),        # before any right row -> NULL
         Row(k=1, ts=at(100)),      # matches right at 100 (equal ts)
         Row(k=1, ts=at(250)),      # matches right at 200
         Row(k=2, ts=at(500))])     # other key, matches its own right
    right = spark.createDataFrame(
        [Row(k=1, ts=at(100), v=10),
         Row(k=1, ts=at(200), v=20),
         Row(k=2, ts=at(400), v=40),
         Row(k=3, ts=at(0), v=99)])  # unrelated key never leaks

    out = {(r.k, r.ts): (r.r_v, r.r_ts)
           for r in asof_join(left, right, keys=["k"],
                              value_cols=["v"]).collect()}
    assert out[(1, at(0))] == (None, None)
    assert out[(1, at(100))] == (10, at(100))
    assert out[(1, at(250))] == (20, at(200))
    assert out[(2, at(500))] == (40, at(400))

    tol = {(r.k, r.ts): r.r_v
           for r in asof_join(left, right, keys=["k"], value_cols=["v"],
                              tolerance_s=60).collect()}
    assert tol[(1, at(250))] == 20          # 50 s old: inside tolerance
    assert tol[(2, at(500))] is None        # 100 s old: dropped


def test_interval_join_buckets_match_between(spark):
    """Bucketed interval join equals the naive BETWEEN join, including
    intervals spanning multiple buckets and bucket-boundary points."""
    from pyspark.sql import Row

    from peskas_malawi_data_pipeline_spark.operators.joins import interval_join

    points = spark.createDataFrame(
        [Row(k=1, ts_s=s) for s in [0, 99, 100, 599, 600, 1200, 1800]]
        + [Row(k=2, ts_s=500)])
    intervals = spark.createDataFrame(
        [Row(k=1, iid=1, start_s=0, end_s=600),      # spans 1 bucket
         Row(k=1, iid=2, start_s=100, end_s=1500),   # spans 3 buckets
         Row(k=2, iid=3, start_s=400, end_s=401),    # tiny
         Row(k=2, iid=4, start_s=501, end_s=900)])   # starts after point

    got = {(r.k, r.ts_s, r.iid)
           for r in interval_join(points, intervals, keys=["k"],
                                  bucket_s=600).collect()}
    want = set()
    for p in [(1, s) for s in [0, 99, 100, 599, 600, 1200, 1800]] + [(2, 500)]:
        for k, iid, a, b in [(1, 1, 0, 600), (1, 2, 100, 1500),
                             (2, 3, 400, 401), (2, 4, 501, 900)]:
            if p[0] == k and a <= p[1] < b:
                want.add((k, p[1], iid))
    assert got == want


def test_word_shingles_tokenizes_once(spark):
    """Regression guard for the bound() CSE fix: Catalyst re-evaluates a
    subexpression referenced both as a HOF argument and inside its lambda
    once PER ARRAY ELEMENT, so the tokenizer must appear exactly once in
    the shingle/repetition expressions (measured 9× slower otherwise —
    SCALE.md §5.1)."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    df = spark.range(1).select(F.lit("a b c d").alias("text"))
    for col in (T.word_shingles(F.col("text"), 3),
                T.word_ngrams(F.col("text"), 2),
                T.dup_ngram_ratio(F.col("text"), 2),
                T.stopword_ratio(F.col("text")),
                T.lang_id(F.col("text"))):
        plan = df.select(col.alias("c"))._jdf.queryExecution().analyzed().toString()
        assert plan.count("split(") == 1, plan


def test_token_chunks_windows_overlap_and_edges(spark):
    from pyspark.sql import Row, functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    df = spark.createDataFrame([
        Row(i=1, text=" ".join(f"w{k}" for k in range(10))),  # 10 toks
        Row(i=2, text="a b c"),                                # <= size
        Row(i=3, text=""),                                     # empty
    ])
    out = {r.i: r.chunks for r in df.select(
        "i", T.token_chunks(F.col("text"), 4, 2).alias("chunks")).collect()}
    # size=4 step=2 over 10 tokens: ceil((10-4)/2)+1 = 4 chunks
    assert out[1] == ["w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7",
                      "w6 w7 w8 w9"]
    assert out[2] == ["a b c"]
    assert out[3] == [""]
    # exact-multiple edge: 8 tokens, size 4, step 2 -> ceil(4/2)+1 = 3
    df8 = spark.createDataFrame([Row(text=" ".join("t" + str(k)
                                                   for k in range(8)))])
    got = df8.select(T.token_chunks(F.col("text"), 4, 2)
                     .alias("c")).first().c
    assert got == ["t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7"]
    # every token appears in at least one chunk; consecutive chunks share
    # exactly `overlap` tokens
    for a, b in zip(out[1], out[1][1:]):
        assert a.split()[-2:] == b.split()[:2]

    import pytest
    with pytest.raises(ValueError, match="overlap < size"):
        T.token_chunks(F.col("text"), 4, 4)


def test_token_chunks_hypothesis_fuzz_vs_reference(spark):
    """Property (hypothesis): token_chunks equals a plain-Python reference
    for arbitrary token counts, sizes, and overlaps — all examples checked
    in ONE Spark job (hypothesis drives the case list, not the executor)."""
    from hypothesis import given, settings, strategies as st

    cases = []

    @settings(max_examples=60, deadline=None)
    @given(n=st.integers(0, 40), size=st.integers(1, 12),
           overlap=st.integers(0, 11))
    def collect(n, size, overlap):
        if overlap < size:
            cases.append((n, size, overlap))

    collect()
    assert cases

    from pyspark.sql import Row, functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    def ref(n, size, overlap):
        toks = [f"t{k}" for k in range(n)]
        step = size - overlap
        n_chunks = 1 if n <= size else -(-(n - size) // step) + 1
        return [" ".join(toks[i * step:i * step + size])
                for i in range(n_chunks)]

    rows = [Row(cid=i, n=n, size=size, overlap=overlap,
                text=" ".join(f"t{k}" for k in range(n)))
            for i, (n, size, overlap) in enumerate(cases)]
    df = spark.createDataFrame(rows)
    # one job per distinct (size, overlap) combination present
    combos = sorted({(s, o) for _, s, o in cases})
    for size, overlap in combos:
        sub = df.filter((F.col("size") == size) & (F.col("overlap") == overlap))
        got = {r.cid: r.chunks for r in sub.select(
            "cid", T.token_chunks(F.col("text"), size, overlap)
            .alias("chunks")).collect()}
        for r in sub.select("cid", "n").collect():
            assert got[r.cid] == ref(r.n, size, overlap), (r.n, size, overlap)


def test_gopher_struct_matches_python_reference(spark):
    """Differential test: the integer-exact Gopher rule signals
    (functions.text.gopher_struct / gopher_passes) agree with a
    straightforward Python reference on adversarial inputs — symbol runs,
    empty/whitespace/NULL text, unicode, long tokens — including the
    floor-division ppm arithmetic and the non-overlapping '...' count."""
    import random
    import re

    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    rng = random.Random(11)
    pieces = ["the", "and", "of", "that", "have", "with", "be", "to",
              "fish", "x" * 40, "名前", "ü", "#", "##", "...", "....",
              "a.b", "1", "", " ", "\t"]
    texts = [" ".join(rng.choices(pieces, k=rng.randint(0, 60)))
             for _ in range(200)]
    texts += ["", " ", "# # #", "... ... ...", "......", "#...#", None,
              " ".join(["the"] * 60), " ".join(["123"] * 60)]

    def py_signals(s):
        if s is None:
            return None
        toks = [t for t in re.split(r"\s+", s.strip().lower()) if t]
        n = len(toks)
        char_sum = sum(len(t) for t in toks)
        n_alpha = sum(1 for t in toks if re.search(r"[a-z]", t))
        n_stop = sum(1 for t in toks if t in T.GOPHER_STOPWORDS)
        n_hash = s.count("#")
        n_dots = (len(s) - len(s.replace("...", ""))) // 3
        symbols = n_hash + n_dots
        ppm = lambda a: (a * 1_000_000) // n if n else 0
        return (n, ppm(char_sum), ppm(symbols), ppm(n_alpha), n_stop)

    def py_passes(sig):
        n, mwl, sym, alpha, stop = sig
        return (T.GOPHER_MIN_WORDS <= n <= T.GOPHER_MAX_WORDS
                and T.GOPHER_MIN_MEAN_WORD_LEN_U <= mwl
                <= T.GOPHER_MAX_MEAN_WORD_LEN_U
                and sym <= T.GOPHER_MAX_SYMBOL_WORD_PPM
                and alpha >= T.GOPHER_MIN_ALPHA_WORD_PPM
                and stop >= T.GOPHER_MIN_STOP_HITS)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    out = (df.select("i", F.explode(F.array(T.gopher_struct(F.col("text"))))
                     .alias("g"))
           .select("i", "g.*", T.gopher_passes(F.col("g")).alias("ok"))
           .orderBy("i").collect())
    assert len(out) == len(texts)
    for row, text in zip(out, texts):
        want = py_signals(text)
        got = (row.n_words, row.mean_word_len_u, row.symbol_word_ppm,
               row.alpha_word_ppm, row.n_stop_hits)
        if want is None:
            # NULL text: tokenizer yields NULL, every signal is NULL.
            assert all(v is None for v in got), (text, got)
            assert row.ok is None
        else:
            assert got == want, (text, got, want)
            assert row.ok == py_passes(want), (text, want)


def test_strip_markup_reference_cases(spark):
    """strip_markup: tag removal, ordered entity decode (amp LAST so
    double-encoded text decodes exactly one level), whitespace collapse,
    NULL passthrough."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    cases = [
        ("<p>a <b>b</b></p>", "a b"),
        ("x &amp; y", "x & y"),
        ("&amp;lt;", "&lt;"),                       # double-encoded: one level
        ("a&lt;b&gt;c", "a<b>c"),
        ("<img src='t.png'>  spaced\t\nout ", "spaced out"),
        ("&quot;q&quot; &#39;s&#39; &nbsp;", '"q" \'s\''),
        ("no markup", "no markup"),
        ("", ""),
        (None, None),
        ("<<a>>", ">"),                             # greedy-free scan: '<<a>' is one tag
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)],
                               "i int, t string")
    got = {r.i: r.c for r in df.select(
        "i", T.strip_markup(F.col("t")).alias("c")).collect()}
    for i, (src, want) in enumerate(cases):
        assert got[i] == want, (src, got[i], want)


def _normalize_unicode_ref(t):
    """Plain-Python reference of functions.text.normalize_unicode,
    built from the SAME code-point tables."""
    import re
    import unicodedata

    from peskas_malawi_data_pipeline_spark.functions import text as T

    if t is None:
        return None
    t = re.sub(T.UNICODE_NUL_RE, " ", t)
    t = re.sub(T.UNICODE_DELETE_RE, "", t)
    t = unicodedata.normalize("NFC", t)
    t = re.sub(T.UNICODE_SPACE_RE, " ", t)
    return re.sub(" +", " ", t).strip()


def test_normalize_unicode_reference_cases(spark):
    """normalize_unicode: NFC composition, zero-width/soft-hyphen/BOM
    deletion (deletion BEFORE NFC, so a ZWJ blocking composition loses),
    NUL → space (pre-NFC, boundary-preserving), control & unicode-space
    mapping, collapse, trim, NULL passthrough."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    cases = [
        ("café", "café"),                     # NFC composes
        ("e​́", "é"),                     # ZWSP deleted first
        ("a­b﻿c⁠d", "abcd"),         # invisibles deleted
        ("a\x00b", "a b"),                  # NUL → space, boundary kept
        ("a b　c d", "a b c d"),      # Zs/Zl mapped
        ("x\x01\x02\x1f\x7f\x9fy", "x y"),          # controls → one space
        ("  tab\there\nnl  ", "tab here nl"),
        ("ÅÅ", "ÅÅ"),                          # ANGSTROM singleton
        ("plain ascii", "plain ascii"),
        ("", ""),
        (None, None),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)],
                               "i int, t string")
    got = {r.i: r.c for r in df.select(
        "i", T.normalize_unicode(F.col("t")).alias("c")).collect()}
    for i, (src, want) in enumerate(cases):
        assert got[i] == want, (ascii(src), ascii(got[i]), ascii(want))
        assert _normalize_unicode_ref(src) == want, ascii(src)


def test_sentences_and_dedup_sentences(spark):
    """sentences: terminal-run boundaries, multi-space tolerance, no-split
    without trailing space, single sentence without terminals, NULL/empty
    edges. dedup_sentences: first occurrence wins, order preserved."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    cases = [
        ("One. Two!  Three?", ["One.", "Two!", "Three?"]),
        ("No terminals here", ["No terminals here"]),
        ("Version 2.5 stays", ["Version 2.5 stays"]),   # no space after '.'
        ("Wait... really?! Yes.", ["Wait...", "really?!", "Yes."]),
        ("Dup. Other. Dup. Dup.", ["Dup.", "Other.", "Dup.", "Dup."]),
        ("", []),
        (None, None),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)],
                               "i int, t string")
    got = {r.i: (r.s, r.u) for r in df.select(
        "i", T.sentences(F.col("t")).alias("s"),
        T.dedup_sentences(F.col("t")).alias("u")).collect()}
    for i, (src, want) in enumerate(cases):
        s, u = got[i]
        assert s == want, (src, s, want)
        if want is not None:
            seen, ref = set(), []
            for x in want:
                if x not in seen:
                    seen.add(x)
                    ref.append(x)
            assert u == ref, (src, u, ref)
    assert got[4][1] == ["Dup.", "Other."]


def test_sentences_fuzz_vs_duckdb_twin(spark):
    """Cross-engine fuzz: T.sentences equals the DuckDB oracle form over
    random punctuation soup (terminal runs, missing trailing spaces,
    multi-space gaps, leading/trailing boundaries)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T
    from peskas_malawi_data_pipeline_spark.queries import _duck_sentences_sql

    cases = []

    @settings(max_examples=100, deadline=None)
    @given(st.text(alphabet="ab .!?", max_size=24))
    def collect(s):
        cases.append(s)

    collect()

    df = spark.createDataFrame(list(enumerate(cases)), "i int, t string")
    got = {r.i: r.s for r in df.select(
        "i", T.sentences(F.col("t")).alias("s")).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE t (i INT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    expr = _duck_sentences_sql("t")
    for i, duck in con.sql(f"SELECT i, {expr} FROM t ORDER BY i").fetchall():
        assert duck == got[i], (ascii(cases[i]), got[i], duck)


def test_fix_mojibake_fuzz_vs_duckdb_twin(spark):
    """Cross-engine fuzz: the pinned-table repair chain and its generated
    DuckDB twin agree over corrupted and clean text alike."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T
    from peskas_malawi_data_pipeline_spark.queries import _duck_mojibake_sql

    covered = "".join(sorted(set(T.MOJIBAKE_CHARS)))
    cases = []

    @settings(max_examples=80, deadline=None)
    @given(st.text(alphabet="ab ÃÂâ€™“" + covered, max_size=20),
           st.booleans())
    def collect(s, corrupt):
        if corrupt:
            try:
                s = s.encode("utf-8").decode("cp1252")
            except UnicodeDecodeError:
                return
        cases.append(s)

    collect()

    df = spark.createDataFrame(list(enumerate(cases)), "i int, t string")
    got = {r.i: r.c for r in df.select(
        "i", T.fix_mojibake(F.col("t")).alias("c")).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE t (i INT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    expr = _duck_mojibake_sql("t")
    for i, duck in con.sql(f"SELECT i, {expr} FROM t ORDER BY i").fetchall():
        assert duck == got[i], (ascii(cases[i]), ascii(got[i]), ascii(duck))


def test_fix_mojibake_roundtrip_and_passthrough(spark):
    """fix_mojibake: corrupting any text over the covered character set
    (encode utf-8 → decode cp1252, the actual upstream failure) and
    repairing round-trips exactly; clean ASCII and already-correct
    accented text pass through untouched; NULL propagates. Fuzzed via
    hypothesis over a mixed alphabet, all examples in ONE Spark job."""
    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T

    covered = "".join(sorted(set(T.MOJIBAKE_CHARS)))
    cases = []

    @settings(max_examples=80, deadline=None)
    @given(st.text(alphabet="abz 09,." + covered, max_size=30))
    def collect(s):
        cases.append(s)

    collect()
    cases += ["cafÃ© â€” naÃ¯veâ€¦", "plain ascii", "", "déjà vu — fine…"]

    def ref_fix(t):
        for bad, good in T.MOJIBAKE_TABLE:
            t = t.replace(bad, good)
        return t

    rows, kept = [], []
    for s in cases:
        try:
            # the actual upstream failure, run forward; strings containing
            # characters whose UTF-8 bytes hit cp1252's undefined slots
            # cannot be corrupted into decoded text at all — skip them
            corrupted = s.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue
        if ref_fix(s) != s:
            # hypothesis can assemble a literal mojibake sequence in the
            # SOURCE (e.g. 'Ã' directly followed by '“') — such text is
            # not a repair fixed-point by the operator's own contract
            # ("a false repair needs a literal 'Ã' directly followed by
            # '©'"), so it cannot round-trip; out of contract, skip
            continue
        rows.append((len(kept), corrupted, s))
        kept.append(s)
    assert len(kept) > 40
    df = spark.createDataFrame(rows, "i int, bad string, good string")
    got = {r.i: (r.fixed, r.same) for r in df.select(
        "i", T.fix_mojibake(F.col("bad")).alias("fixed"),
        (T.fix_mojibake(F.col("good")) == F.col("good")).alias("same"))
        .collect()}
    for i, s in enumerate(kept):
        fixed, same = got[i]
        assert fixed == s, (ascii(s), ascii(fixed))
        if not any(ch in s for ch in "ÃÂâ"):
            # text without mojibake lead chars is never touched
            assert same, ascii(s)

    # explicit anchor cases + NULL passthrough
    anchors = spark.createDataFrame(
        [(0, "cafÃ©"), (1, "â€” dash â€“"), (2, None)], "i int, t string")
    out = {r.i: r.c for r in anchors.select(
        "i", T.fix_mojibake(F.col("t")).alias("c")).collect()}
    assert out[0] == "café" and out[1] == "— dash –" and out[2] is None


def test_normalize_unicode_fuzz_vs_reference_and_duckdb(spark):
    """Differential fuzz (hypothesis drives the case list; ONE Spark job
    checks all): normalize_unicode == the plain-Python unicodedata
    reference == the generated DuckDB oracle form, over an adversarial
    alphabet of combining marks, zero-widths, unicode spaces, controls,
    precomposed/decomposed accents, Hangul jamo, and CJK — the alphabet
    is curated to ASSIGNED code points (normalization of assigned points
    is stability-guaranteed; unassigned ones may differ between the two
    engines' Unicode table versions, which is out of contract)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.functions import text as T
    from peskas_malawi_data_pipeline_spark.queries import _duck_normalize_sql

    alphabet = ("ae o" + "̧̣́̀"      # combining marks
                "​‌‍⁠﻿­"   # deletions
                "    　\t\n"     # spaces/controls
                "\x00\x01\x7f"
                "éÅÅÅ"         # é, A+ring, Å, Å
                "가가"                     # jamo, 각
                "名fi")
    cases = []

    @settings(max_examples=120, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=24))
    def collect(s):
        cases.append(s)

    collect()
    assert cases

    df = spark.createDataFrame(list(enumerate(cases)), "i int, t string")
    got = {r.i: r.c for r in df.select(
        "i", T.normalize_unicode(F.col("t")).alias("c")).collect()}
    con = duckdb.connect()
    duck_expr = _duck_normalize_sql("?")
    for i, s in enumerate(cases):
        want = _normalize_unicode_ref(s)
        assert got[i] == want, (ascii(s), ascii(got[i]), ascii(want))
        duck = con.sql(f"SELECT {duck_expr}", params=[s]).fetchone()[0]
        assert duck == want, (ascii(s), ascii(duck), ascii(want))

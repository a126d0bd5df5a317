"""Model pin for ``gopher_quality_flags`` (functions/text.py): the
Rae et al. 2021 §A1.1 rules replayed by a pure-Python walk on
adversarial documents — threshold drift or a ratio-guard slip is a
silent corpus-composition change no oracle would catch (the rules are
definitional, not relational).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dug_data_ingest_spark.functions.text import GOPHER_STOPWORDS, gopher_quality_flags


def _model(text: str | None) -> dict | None:
    if text is None:
        return None
    words = [w for w in re.split(r"\s+", text.strip()) if w != ""] if text.strip() else []
    nw = len(words)
    lines = text.split("\n")

    def ratio_ok(pred):
        return pred() if nw > 0 else False

    n_hash = text.count("#")
    n_ell = text.count("...")
    trimmed = [l.strip() for l in lines]
    n_bullet = sum(1 for l in trimmed if l.startswith(("-", "*", "•")))
    n_ell_end = sum(1 for l in trimmed if l.endswith("...") or l.endswith("…"))
    norm = [
        w
        for w in re.sub(r"[^a-z0-9 ]", "", text.lower()).strip().split(" ")
        if w != ""
    ]
    flags = {
        "n_words_ok": 50 <= nw <= 100_000,
        "mean_word_len_ok": ratio_ok(
            lambda: 3.0 <= sum(len(w) for w in words) / nw <= 10.0
        ),
        # the paper thresholds each symbol's ratio SEPARATELY (Rae et
        # al. 2021 A1.1): 0.06 hash + 0.06 ellipsis passes both
        "hash_ratio_ok": ratio_ok(lambda: n_hash / nw <= 0.1),
        "ellipsis_ratio_ok": ratio_ok(lambda: n_ell / nw <= 0.1),
        "bullet_lines_ok": n_bullet / len(lines) <= 0.9,
        "ellipsis_lines_ok": n_ell_end / len(lines) <= 0.3,
        "alpha_words_ok": ratio_ok(
            lambda: sum(1 for w in words if re.search("[A-Za-z]", w)) / nw >= 0.8
        ),
        "stopwords_ok": len(set(norm) & set(GOPHER_STOPWORDS)) >= 2,
    }
    flags["passes"] = all(flags.values())
    return flags


_GOOD = (
    "The quick brown fox jumps over the lazy dog and then continues to "
    "run with great speed because it must have been chased by that "
    "farmer who wanted to be rid of foxes near the barn. "
) * 3  # ~100 words, prose-like

_DOCS = [
    _GOOD,                                        # passes everything
    "",                                           # 0 words
    "   \n \n ",                                  # whitespace only
    "short text with the and of",                 # < 50 words
    "x " * 60,                                    # mean word len < 3, no stopword pair... (x repeated)
    ("supercalifragilistic " * 60),               # mean word len > 10
    _GOOD + " ##### # # # # # # # # # # # # # # # # # # # ####",  # hash ratio > 0.1
    _GOOD + " " + "... " * 20,                    # ellipsis ratio > 0.1 alone
    # the per-symbol discriminator: ~0.06 hash + ~0.06 ellipsis ratios
    # pass BOTH paper rules (a combined 0.12 ratio would wrongly fail)
    _GOOD + " " + "# " * 9 + "... " * 9,
    "\n".join(["- bullet item with the words of a list"] * 10),   # all bullets
    "\n".join([_GOOD] + ["trailing thought..."] * 9),             # 90% ellipsis ends -> fail
    ("42 " * 30 + "9000 " * 30).strip(),          # numeric words, alpha < 80%
    _GOOD.replace("the", "le").replace("and", "et").replace("to", "a")
    .replace("of", "de").replace("have", "ai").replace("that", "ce")
    .replace("with", "avec").replace("be", "etre"),  # stopwords < 2
    None,                                         # NULL text
    "word\n" + ("nice the words of prose flowing onward " * 8),   # multiline pass-ish
    "\n".join(["\t- tab-indented bullet of the list"] * 10),      # tabs hide bullets from trim()
]


def test_gopher_flags_match_model(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_DOCS)], "doc_id int, text string"
    )
    got_rows = (
        df.select("doc_id", gopher_quality_flags(F.col("text")).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    for row in got_rows:
        want = _model(_DOCS[row["doc_id"]])
        got = None if row["g"] is None or row["g"]["passes"] is None and _DOCS[row["doc_id"]] is None else row["g"].asDict()
        if want is None:
            # NULL text -> every field NULL
            assert row["g"]["passes"] is None, row
            continue
        assert got == want, (row["doc_id"], got, want)


def _c4_model(text: str | None, min_line_words=5, min_sentences=3):
    if text is None:
        return None
    kept = []
    for raw in text.split("\n"):
        s = raw.strip()
        words = [w for w in re.split(r"\s+", s) if w]
        if (
            s.endswith((".", "!", "?", '"'))
            and len(words) >= min_line_words
            and "javascript" not in s.lower()
        ):
            kept.append(s)
    page_ok = (
        "lorem ipsum" not in text.lower()
        and "{" not in text
        and len(kept) >= min_sentences
    )
    return {"text_clean": "\n".join(kept), "n_kept_lines": len(kept), "page_ok": page_ok}


_C4_DOCS = [
    "Good first sentence here today.\nShort line.\nPlease enable javascript to view this.\n"
    "Another quite long and proper sentence!\nAnd a third full sentence for the page?\n"
    "no terminal punctuation on this one",
    "This page contains lorem ipsum filler text in the body.\n"
    "A perfectly fine sentence follows it here.\nAnd another one to make three lines total.\n"
    "Plus one more complete sentence right here.",
    "function() { return 1; } is code.\nA fine sentence follows the code block here.\n"
    "And another full sentence closes the page now.\nOne more proper sentence for good measure.",
    'He said "stop right there, friend."\nShe quoted back "fine, you win the argument!"\n'
    'A closing line that ends with a quote mark."',
    "",
    None,
    "\tIndented sentence with enough words to count.\nSecond proper sentence of this tidy page.\n"
    "Third full sentence keeps the page alive today.",
]


def test_c4_clean_matches_model(spark):
    from dug_data_ingest_spark.functions.text import c4_clean

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_C4_DOCS)], "doc_id int, text string"
    )
    rows = (
        df.select("doc_id", c4_clean(F.col("text")).alias("c"))
        .orderBy("doc_id")
        .collect()
    )
    for row in rows:
        want = _c4_model(_C4_DOCS[row["doc_id"]])
        if want is None:
            assert row["c"]["page_ok"] is None, row
            continue
        assert row["c"].asDict() == want, (row["doc_id"], row["c"].asDict(), want)


def _rep_model(text: str | None):
    if text is None:
        return None

    def run_stats(items):
        from collections import Counter

        c = Counter(items)
        n = len(items)
        dup_n = sum(v - 1 for v in c.values())
        total = sum(len(x) for x in items)
        dup = sum((v - 1) * len(x) for x, v in c.items())
        top = max((v * len(x) for x, v in c.items()), default=0)
        return n, dup_n, total, dup, top

    def frac(a, b):
        return a / b if b else None

    lines = [l.strip() for l in text.split("\n") if l.strip()]
    paras = [p.strip() for p in re.split(r"\n{2,}", text) if p.strip()]
    norm = [
        w
        for w in re.sub(r"[^a-z0-9 ]", "", text.lower()).strip().split(" ")
        if w != ""
    ]

    def grams(k):
        if len(norm) < k or norm == []:
            return []
        return [" ".join(norm[i : i + k]) for i in range(len(norm) - k + 1)]

    flags = {}
    for name_f, name_c, items in [
        ("dup_line_frac_ok", "dup_line_char_frac_ok", lines),
        ("dup_para_frac_ok", "dup_para_char_frac_ok", paras),
    ]:
        n, dup_n, total, dup, _ = run_stats(items)
        fr, cf = frac(dup_n, n), frac(dup, total)
        flags[name_f] = fr is not None and fr <= 0.30
        flags[name_c] = cf is not None and cf <= 0.20
    for name, k, thr in [("top2gram_ok", 2, 0.20), ("top3gram_ok", 3, 0.18), ("top4gram_ok", 4, 0.16)]:
        g = grams(k)
        if not g:
            flags[name] = True
            continue
        n, _, total, _, top = run_stats(g)
        tf = frac(top, total)
        flags[name] = tf is not None and tf <= thr
    for name, k, thr in [
        ("dup5gram_ok", 5, 0.15), ("dup6gram_ok", 6, 0.14), ("dup7gram_ok", 7, 0.13),
        ("dup8gram_ok", 8, 0.12), ("dup9gram_ok", 9, 0.11), ("dup10gram_ok", 10, 0.10),
    ]:
        g = grams(k)
        if not g:
            flags[name] = True
            continue
        n, _, total, dup, _ = run_stats(g)
        df_ = frac(dup, total)
        flags[name] = df_ is not None and df_ <= thr
    flags["passes"] = all(flags.values())
    return flags


_VARIED = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
    "omega one two three four five six seven eight nine ten eleven "
    "twelve thirteen fourteen fifteen sixteen."
)

_REP_DOCS = [
    _VARIED,                                       # varied prose: all pass
    "same line here.\nsame line here.\nsame line here.\nunique one.",  # dup lines
    ("para one stands alone.\n\n" + "repeated paragraph body.\n\n" * 4).strip(),
    "the cat sat " * 30,                           # one dominant 3-gram
    ("unique words once " + _VARIED + " ") * 1 + ("repeat this exact five gram block " * 6),
    "",                                            # empty: line rules fail closed, grams vacuous
    None,
    "tiny doc.",                                   # too short for 5-grams -> vacuous pass
]


def test_gopher_repetition_flags_match_model(spark):
    from dug_data_ingest_spark.functions.text import gopher_repetition_flags

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_REP_DOCS)], "doc_id int, text string"
    )
    rows = (
        df.select("doc_id", gopher_repetition_flags(F.col("text")).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    for row in rows:
        want = _rep_model(_REP_DOCS[row["doc_id"]])
        if want is None:
            assert row["g"]["passes"] is None, row
            continue
        assert row["g"].asDict() == want, (row["doc_id"], row["g"].asDict(), want)


def test_gopher_repetition_prematerialized_words_equal_inline(spark):
    # the documented perf escape hatch must not change values
    from dug_data_ingest_spark.functions.text import (
        gopher_repetition_flags,
        normalized_words,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_REP_DOCS) if t is not None],
        "doc_id int, text string",
    )
    inline = df.select("doc_id", gopher_repetition_flags(F.col("text")).alias("g"))
    pre = df.withColumn("__w", normalized_words(F.col("text"))).select(
        "doc_id", gopher_repetition_flags(F.col("text"), F.col("__w")).alias("g")
    )
    assert sorted(map(repr, inline.collect())) == sorted(map(repr, pre.collect()))


def test_gate_documents_names_the_first_failing_rule(spark):
    from dug_data_ingest_spark.ext.curation import gate_documents
    from dug_data_ingest_spark.operators.filters import split_valid_quarantine

    prose_50 = (
        "The quick brown fox jumps over the lazy dog and then continues "
        "to run with great speed because it must have been chased by "
        "that farmer who wanted to be rid of all foxes near the barn. "
        "It was quite the chase to behold on that morning, with dust "
        "flying and hens scattering everywhere across the yard."
    )
    # one sentence per line: 5 kept C4 lines, so every rule passes
    prose_lines = "\n".join(
        [
            "The quick brown fox jumps over the lazy dog near the barn.",
            "It was quite the chase to behold on that cold morning.",
            "Dust was flying and hens were scattering across the yard.",
            "The farmer who wanted to be rid of all foxes came running.",
            "By noon the fox had long since vanished into the woods again.",
        ]
    )
    docs = spark.createDataFrame(
        [
            # one long line ending in '.': n_kept_lines = 1 < 3
            (0, prose_50),                          # c4:page
            (1, None),                              # null_text
            (2, "too short with the and of."),      # gopher:n_words_ok
            (3, ("the same exact line of prose with words repeated today.\n" * 40).strip()),
            (4, prose_lines),                       # keeps
        ],
        "doc_id int, text string",
    )
    out = gate_documents(docs)
    reasons = {r["doc_id"]: r["reject_reason"] for r in out.collect()}
    assert reasons[0] == "c4:page"
    assert reasons[1] == "null_text"
    assert reasons[2] == "gopher:n_words_ok"
    assert reasons[3].startswith("gopher_rep:dup_line"), reasons[3]
    assert reasons[4] is None
    # the staging columns must not leak
    assert set(out.columns) == {"doc_id", "text", "reject_reason"}

    valid, quarantine = split_valid_quarantine(out)
    assert {r["doc_id"] for r in valid.collect()} == {4}
    assert {r["doc_id"] for r in quarantine.collect()} == {0, 1, 2, 3}


def test_gate_documents_preserves_colliding_staging_columns(spark):
    # an input already carrying __gate_q / __gate_r / __gate_c4 /
    # __gate_words must come back with those columns INTACT — the
    # suffix-until-free guard applies to every staging column, not
    # just the words array
    from dug_data_ingest_spark.ext.curation import gate_documents

    docs = spark.createDataFrame(
        [(0, None, "q0", "r0", "c0", "w0")],
        "doc_id int, text string, __gate_q string, __gate_r string,"
        " __gate_c4 string, __gate_words string",
    )
    out = gate_documents(docs)
    assert set(out.columns) == {
        "doc_id", "text", "__gate_q", "__gate_r", "__gate_c4",
        "__gate_words", "reject_reason",
    }
    row = out.collect()[0]
    assert (row["__gate_q"], row["__gate_r"], row["__gate_c4"],
            row["__gate_words"]) == ("q0", "r0", "c0", "w0")
    assert row["reject_reason"] == "null_text"


def test_gopher_gate_is_pure_projection(spark):
    # the gate must stay whole-stage-codegen: no UDFs, no exchange —
    # a filter on passes is a scan-side predicate at any corpus size
    from tests.conftest import TEST_SF_DIR

    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
    out = docs.select(
        "doc_id", gopher_quality_flags(F.col("text")).alias("g")
    ).filter(F.col("g.passes"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert out.count() >= 0

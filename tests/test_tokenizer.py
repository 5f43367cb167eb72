"""Tokenizer goldens + cross-implementation identity (SURVEY §5.2 item 1)."""

import pytest
from pyspark.sql import functions as F

from elastic_indexer4s_spark.config import TokenizerConfig
from elastic_indexer4s_spark.functions.tokenizer import (
    tokenize_py, tokens_expr,
)

CFG = TokenizerConfig()

GOLDENS = [
    ("def camelCaseWord(x): return snake_case_name",
     ["def", "camel", "case", "word", "return", "snake", "case", "name"]),
    ("HTMLParser parse2HTML xmlHTTPRequest",
     ["html", "parser", "parse2", "html", "xml", "http", "request"]),
    ("a bc x_1 __init__ A1b2C3", ["bc", "init", "a1b2", "c3"]),
    ("", []),
    (None, []),
    ("UPPER lower Mixed123case",
     ["upper", "lower", "mixed123case"]),
    ("foo.bar(baz, qux);  // comment", ["foo", "bar", "baz", "qux", "comment"]),
    ("x" * 65 + " okay " + "y" * 64, ["okay", "y" * 64]),
]


@pytest.mark.parametrize("text,expected", GOLDENS)
def test_tokenize_py_goldens(text, expected):
    assert tokenize_py(text, CFG) == expected


def test_expr_matches_py(spark):
    texts = [t for t, _ in GOLDENS if t] + [
        "class FooBar: def do_thing(self): return self._x2Y",
        "def getFoo_bar3 return IMPORTThing",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    expr_out = [r[0] for r in
                df.select(tokens_expr(F.col("content"), CFG)).collect()]
    py_out = [tokenize_py(t, CFG) for t in texts]
    assert expr_out == py_out


def test_corpus_tokens_nonempty():
    from elastic_indexer4s_spark.corpus import make_corpus
    docs = make_corpus(50)
    assert all(len(tokenize_py(d.content, CFG)) > 0 for d in docs)
    # determinism
    docs2 = make_corpus(50)
    assert [d.content for d in docs] == [d.content for d in docs2]


def test_single_pass_grammar_equals_multipass(spark):
    """The default tokens_expr takes a single-regex extraction path; it must
    be indistinguishable from the explicit multi-pass chain and the pure-
    Python twin on adversarial + random inputs."""
    import random
    import string

    from elastic_indexer4s_spark.functions.tokenizer import (
        tokenize_py, tokens_expr, tokens_expr_multipass)
    from elastic_indexer4s_spark.config import TokenizerConfig
    from pyspark.sql import functions as F

    cases = ["HTMLParser", "HTML2x", "getUserID2", "snake_case_name",
             "AB2Cd", "A2B3c", "xyzABCdef", "AB2CD", "AB2Cd3EF", "A2BCde",
             "ABC2d", "ABCd2E", "2Cd", "ab_CD", "", "a", "x" * 70,
             "éclair café", "MixedCASE2moreStuff", "ALLCAPS", "__init__"]
    rng = random.Random(7)
    alphabet = string.ascii_letters + string.digits + "_ .-(){}\n\t/#é"
    cases += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
              for _ in range(500)]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    cfg = TokenizerConfig()
    rows = df.select(
        "text",
        tokens_expr(F.col("text"), cfg).alias("fast"),
        tokens_expr_multipass(F.col("text"), cfg).alias("multi"),
    ).collect()
    for r in rows:
        assert r["fast"] == r["multi"], r["text"]
        assert r["fast"] == tokenize_py(r["text"], cfg), r["text"]

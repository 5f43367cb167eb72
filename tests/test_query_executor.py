"""One query executor for both tiers.

Every scored Spark query type is the same plan: one ``mapInArrow`` task per
shard straight over the shard ids, each running the serving reader on its
own shard's postings files (no Spark scan of ``postings/``, no broadcast,
no exchange below the kernel), then the query type's merge.  Both tiers
read the postings through that one reader, so they read only the columns a
query needs, and both reject a generation that lacks its term dictionary
or holds an older postings layout."""

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from elastic_indexer4s_spark.functions.codec import row_to_enc
from elastic_indexer4s_spark.operators import query as Q
from elastic_indexer4s_spark.serving import LocalSearcher

#: the query types whose kernels read token positions
POSITIONAL = {"phrase_topk", "highlight_topk"}

#: query type → DataFrame, from (spark, plain generation, positions one)
SCORED = {
    "topk": lambda spark, gen, pos: Q.topk(
        spark, gen, ["tokenIndex", "merge"], 5, wand=True),
    "topk_batch": lambda spark, gen, pos: Q.topk_batch(
        spark, gen, {0: ["tokenIndex", "merge"], 1: ["shard"]}, 5),
    "bool_topk": lambda spark, gen, pos: Q.bool_topk(
        spark, gen, must=["merge"], should=["shard"], must_not=["the"], k=5),
    "phrase_topk": lambda spark, gen, pos: Q.phrase_topk(
        spark, pos, ["token", "index"], 5),
    "highlight_topk": lambda spark, gen, pos: Q.highlight_topk(
        spark, pos, ["tokenIndex", "merge"], 5),
}


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


@pytest.fixture
def static_plans(spark):
    """Plan without AQE: an adaptive plan hides exchange reuse until it
    runs."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", saved)


def assert_one_shard_stage(plan: str) -> None:
    """One ``MapInArrow`` reading the shard ids straight from ``Range`` (no
    exchange or broadcast below the kernel) and no parquet scan of
    ``postings/``."""
    tree = plan.split("\n\n")[0]
    kernels = re.findall(r"MapInArrow \(\d+\)\n(.*)", tree)
    assert len(kernels) == 1, tree
    assert re.match(r"[ :]*\+- (\* )?Range \(\d+\)$", kernels[0]), tree
    assert "postings" not in plan, plan


@pytest.mark.parametrize("name", sorted(SCORED))
def test_scored_query_is_one_scatter_plan(spark, tiny_index, pos_index,
                                          static_plans, name):
    plan = _formatted(SCORED[name](spark, tiny_index[0], pos_index[0]))
    assert_one_shard_stage(plan)
    assert "Scan parquet" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_facet_match_set_is_one_scatter_stage(spark, tiny_index,
                                              static_plans):
    """Facets build their match set on the same executor: one shard
    stage; only doclen, for the facet column, is scanned.  (The optimizer
    may broadcast the match set into that scan: only doc ids move.)"""
    plan = _formatted(Q.facet_counts(spark, tiny_index[0],
                                     ["tokenIndex", "merge"], "lang",
                                     mode="and"))
    assert_one_shard_stage(plan)
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1, plan
    assert "doclen" in plan, plan


#: Spark entry point → (reads the positions generation, DataFrame of the
#: analyzed term ``t``)
ENTRY_POINTS = {
    "topk": (False, lambda spark, gen, t: Q.topk(spark, gen, [t], 5)),
    "topk_batch": (False, lambda spark, gen, t: Q.topk_batch(
        spark, gen, {0: [t]}, 5)),
    "bool_topk": (False, lambda spark, gen, t: Q.bool_topk(
        spark, gen, must=[t], k=5)),
    "prefix_topk": (False, lambda spark, gen, t: Q.prefix_topk(
        spark, gen, t, 5)),
    "fuzzy_topk": (False, lambda spark, gen, t: Q.fuzzy_topk(
        spark, gen, t, 5, max_edit=0)),
    "facet_counts": (False, lambda spark, gen, t: Q.facet_counts(
        spark, gen, [t], "lang")),
    "topk_hydrated": (False, lambda spark, gen, t: Q.topk_hydrated(
        spark, gen, [t], 5)),
    "topk_batch_hydrated": (False, lambda spark, gen, t:
                            Q.topk_batch_hydrated(spark, gen, {0: [t]}, 5)),
    "phrase_topk": (True, lambda spark, gen, t: Q.phrase_topk(
        spark, gen, [t], 5)),
    "phrase_topk_hydrated": (True, lambda spark, gen, t:
                             Q.phrase_topk_hydrated(spark, gen, [t], 5)),
    "highlight_topk": (True, lambda spark, gen, t: Q.highlight_topk(
        spark, gen, [t], 5)),
}


def _one_shard_term(gen: str) -> tuple[str, int, int]:
    """A term whose postings sit in one shard, that analyzes to itself and
    starts no other term → (term, shard, df)."""
    import pyarrow.dataset as ds

    rows = ds.dataset(f"{gen}/postings", partitioning="hive").to_table(
        columns=["shard", "term", "df"]).to_pylist()
    shards: dict[str, set] = {}
    dfs: dict[str, int] = {}
    for r in rows:
        shards.setdefault(r["term"], set()).add(r["shard"])
        dfs[r["term"]] = dfs.get(r["term"], 0) + r["df"]
    cfg = Q.load_config(gen).tokenizer
    return next((t, shards[t].pop(), dfs[t]) for t in sorted(shards)
                if len(shards[t]) == 1 and Q.analyze_query([t], cfg) == [t]
                and not any(o != t and o.startswith(t) for o in shards))


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_absent_and_one_shard_terms(spark, tiny_index, pos_index, name):
    """An absent term gives an empty frame of the entry point's schema,
    and a term held by one shard is answered from that shard alone while
    every other shard's task returns nothing."""
    positional, run = ENTRY_POINTS[name]
    gen = pos_index[0] if positional else tiny_index[0]
    term, shard, df = _one_shard_term(gen)
    held = run(spark, gen, term)
    rows = held.collect()
    assert rows, term
    if name == "facet_counts":
        assert sum(r["n"] for r in rows) == df, rows
    else:
        assert {r["doc_id"] >> 33 for r in rows} == {shard}, rows
    absent = run(spark, gen, "zzabsenttermzz")
    assert absent.schema == held.schema
    assert absent.collect() == []


@pytest.fixture(scope="module")
def no_dictionary(tiny_index, tmp_path_factory):
    """A copy of the tiny generation without its ``dictionary/``."""
    gen, _cfg = tiny_index
    dst = tmp_path_factory.mktemp("nodict") / "docs_tiny"
    shutil.copytree(gen, dst)
    shutil.rmtree(dst / "dictionary")
    return str(dst)


def test_generation_without_dictionary_is_rejected(spark, no_dictionary):
    path = re.escape(no_dictionary + "/dictionary")
    with pytest.raises(ValueError, match=path):
        Q.topk(spark, no_dictionary, ["tokenIndex"], 5)
    with pytest.raises(ValueError, match=path):
        Q.topk_batch(spark, no_dictionary, {0: ["tokenIndex"]}, 5)
    with pytest.raises(ValueError, match=path):
        LocalSearcher(no_dictionary)


def _read_columns(searcher, monkeypatch) -> list:
    """Record the columns of every postings read ``searcher`` makes."""
    files = searcher._files["postings"]  # noqa: SLF001
    reads, read = [], files.read

    def spy(file, groups, keep=None, columns=None):
        reads.append(list(columns))
        return read(file, groups, keep, columns)

    monkeypatch.setattr(files, "read", spy)
    return reads


def test_serving_reads_only_the_columns_a_query_needs(tiny_index, pos_index,
                                                      monkeypatch):
    scored = LocalSearcher(tiny_index[0])
    reads = _read_columns(scored, monkeypatch)
    assert scored.search(["tokenIndex", "merge"], 5, wand=True)
    assert scored.search_bool(must=["merge"], should=["shard"], k=5)
    assert reads and all(c == ["term", "df", "enc"] for c in reads), reads

    positional = LocalSearcher(pos_index[0])
    reads = _read_columns(positional, monkeypatch)
    assert positional.search_phrase(["token", "index"], 5)
    assert positional.search_highlight(["tokenIndex", "merge"], 5)
    assert reads and all(c == ["term", "df", "enc", "pos_blob"]
                         for c in reads), reads


def _column_layout(row: dict) -> dict:
    """A postings row in the column-per-stream layout that preceded
    ``enc``: three stream columns and seven block sidecar lists."""
    enc = row_to_enc(row["df"], row["enc"], row["pos_blob"])
    out = {"term": row["term"], "df": row["df"]}
    for name in ("doc_blob", "tf_blob", "dl_blob"):
        out[name] = getattr(enc, name)
    for name in ("block_last", "block_maxtf", "block_min_dl", "block_count",
                 "block_doc_off", "block_tf_off", "block_dl_off"):
        out[name] = getattr(enc, name).tolist()
    out["pos_blob"] = enc.pos_blob
    return out


@pytest.fixture
def column_layout(tiny_index, tmp_path):
    """A copy of the tiny generation rewritten in the older postings layout,
    with the ``stats.json`` such a build wrote (no ``postings_format``)."""
    gen, _cfg = tiny_index
    dst = tmp_path / "docs_tiny"
    shutil.copytree(gen, dst)
    for f in (dst / "postings").glob("shard=*/*.parquet"):
        rows = [_column_layout(r) for r in pq.read_table(f).to_pylist()]
        pq.write_table(pa.Table.from_pylist(rows), f)
    stats = json.loads((dst / "stats.json").read_text())
    del stats["postings_format"]
    (dst / "stats.json").write_text(json.dumps(stats))
    return str(dst)


def test_older_postings_layout_is_rejected(spark, tiny_index, tiny_corpus,
                                           column_layout):
    from elastic_indexer4s_spark.operators.build import build_index

    msg = r"doc_blob.*rebuild the generation"
    with pytest.raises(ValueError, match=msg):
        LocalSearcher(column_layout)
    with pytest.raises(ValueError, match=msg):
        Q.topk(spark, column_layout, ["tokenIndex"], 5)
    src = spark.createDataFrame(
        [(d.repo, d.path, d.commit, d.lang, d.content) for d in tiny_corpus],
        "repo string, path string, commit string, lang string, "
        "content string")
    cfg = tiny_index[1]
    with pytest.raises(ValueError, match=msg):
        build_index(spark, src, cfg, column_layout, resume=True)
    # a build that stopped before writing stats.json: judged by its columns
    os.remove(os.path.join(column_layout, "stats.json"))
    with pytest.raises(ValueError, match=msg):
        build_index(spark, src, cfg, column_layout, resume=True)

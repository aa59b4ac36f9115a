"""ES-style aggregations over matched docs + doc-processor transform."""

import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search.aggregations import aggregate
from quickwit_spark.search.engine import IndexSearcher


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    root = tmp_path_factory.mktemp("aggs")
    docs = []
    for i in range(60):
        lang = ["en", "fr", "es"][i % 3]
        text = "alpha beta" if i % 2 == 0 else "alpha gamma"
        docs.append({"repo": f"r{i % 4}", "path": f"f{i}.py", "commit": "c",
                     "lang": lang, "content": text, "size": 10 * i})
    pdf = pd.DataFrame(docs)
    cfg = IndexConfig(index_uid="agg", index_dir=str(root / "idx"),
                      sha_col=None, store_cols=("size",))
    build_index_pandas(pdf, cfg, num_partitions=2)
    return cfg, pdf


def test_terms_bucket_with_sub_metric(spark, idx):
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, A.Term("content", "beta"),
                    {"langs": {"terms": {"field": "lang"},
                               "aggs": {"sz": {"avg": {"field": "size"}}}}}
                    ).toPandas().set_index("langs")
    sub = pdf[pdf.content.str.contains("beta")]
    expect = sub.groupby("lang").agg(cnt=("lang", "size"),
                                     avg=("size", "mean"))
    assert sorted(out.index) == sorted(expect.index)
    for lang in expect.index:
        assert out.loc[lang, "doc_count"] == expect.loc[lang, "cnt"]
        assert out.loc[lang, "sz"] == pytest.approx(expect.loc[lang, "avg"])


def test_metric_only_and_histogram(spark, idx):
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    m = aggregate(s, "*", {"st": {"stats": {"field": "size"}}}
                  ).toPandas().iloc[0]
    assert m["doc_count"] == len(pdf)
    assert m["st_min"] == pdf["size"].min()
    assert m["st_max"] == pdf["size"].max()
    h = aggregate(s, "*", {"hs": {"histogram": {"field": "size",
                                                "interval": 100}}}
                  ).toPandas()
    expect = (pdf.assign(b=(pdf["size"] // 100) * 100)
              .groupby("b").size())
    assert dict(zip(h["hs"], h["doc_count"])) == \
        {float(k): v for k, v in expect.items()}


def test_range_buckets(spark, idx):
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, "*", {"r": {"range": {
        "field": "size",
        "ranges": [{"to": 100, "key": "small"},
                   {"from": 100, "to": 400, "key": "mid"},
                   {"from": 400, "key": "big"}]}}}).toPandas()
    got = dict(zip(out["r"], out["doc_count"]))
    assert got["small"] == (pdf["size"] < 100).sum()
    assert got["mid"] == ((pdf["size"] >= 100) & (pdf["size"] < 400)).sum()
    assert got["big"] == (pdf["size"] >= 400).sum()


def test_extended_stats_and_nested_and_fixed_interval(spark, tmp_path):
    """Round-2 aggregation depth: extended_stats, 2-level nesting,
    terms size + sum_other_doc_count, histogram gap filling, and
    date_histogram fixed_interval."""
    import numpy as np
    docs = []
    base = pd.Timestamp("2026-01-01 00:00:00")
    for i in range(40):
        docs.append({"repo": f"r{i}", "path": f"f{i}.py", "commit": "c",
                     "lang": ["en", "fr"][i % 2], "content": "alpha",
                     "size": 7 * i,
                     "ts": base + pd.Timedelta(seconds=45 * i)})
    pdf = pd.DataFrame(docs)
    cfg = IndexConfig(index_uid="agg2", index_dir=str(tmp_path / "i"),
                      sha_col=None, store_cols=("size", "ts"))
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir, spark=spark)

    es = aggregate(s, "*", {"st": {"extended_stats": {"field": "size"}}}
                   ).toPandas().iloc[0]
    x = pdf["size"].to_numpy(dtype=float)
    assert es["st_sum_of_squares"] == pytest.approx((x * x).sum())
    assert es["st_variance"] == pytest.approx(x.var())  # population
    assert es["st_std_deviation"] == pytest.approx(x.std())

    nested = aggregate(s, "*", {
        "langs": {"terms": {"field": "lang"},
                  "aggs": {"h": {"histogram": {"field": "size",
                                               "interval": 100},
                                 "aggs": {"m": {"max":
                                                {"field": "size"}}}}}}}
    ).toPandas()
    expect = (pdf.assign(b=(pdf["size"] // 100) * 100)
              .groupby(["lang", "b"])
              .agg(cnt=("size", "size"), m=("size", "max")))
    assert len(nested) == len(expect)
    for row in nested.itertuples():
        e = expect.loc[(row.langs, row.h)]
        assert row.doc_count == e["cnt"] and row.m == e["m"]

    topn = aggregate(s, "*", {"langs": {"terms": {"field": "lang",
                                                  "size": 1}}}).toPandas()
    assert len(topn) == 1
    assert int(topn["langs_sum_other_doc_count"].iloc[0]) == \
        40 - int(topn["doc_count"].iloc[0])

    gap = aggregate(s, "*", {"h": {"histogram": {
        "field": "size", "interval": 100, "min_doc_count": 0,
        "extended_bounds": {"min": 0, "max": 500}}}}).toPandas()
    assert sorted(gap["h"]) == [0.0, 100.0, 200.0, 300.0, 400.0, 500.0]
    assert (gap[gap["h"] == 500.0]["doc_count"] == 0).all()

    fx = aggregate(s, "*", {"d": {"date_histogram":
                                  {"field": "ts",
                                   "fixed_interval": "5m"}}}).toPandas()
    expect_fx = (pdf.assign(
        b=pdf["ts"].dt.floor("5min")).groupby("b").size())
    assert len(fx) == len(expect_fx)
    got = {pd.Timestamp(k): v for k, v in zip(fx["d"], fx["doc_count"])}
    assert got == dict(expect_fx.items())


def test_sibling_bucket_aggs(spark, idx):
    """Sibling bucket aggregations return one DataFrame per sibling,
    over a shared matched-doc relation."""
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, "*", {
        "langs": {"terms": {"field": "lang"}},
        "sizes": {"histogram": {"field": "size", "interval": 200}},
        "st": {"stats": {"field": "size"}},
    })
    assert set(out) == {"langs", "sizes", "st"}
    langs = out["langs"].toPandas()
    assert dict(zip(langs["langs"], langs["doc_count"])) == \
        pdf.groupby("lang").size().to_dict()
    sizes = out["sizes"].toPandas()
    expect = (pdf.assign(b=(pdf["size"] // 200) * 200).groupby("b").size())
    assert dict(zip(sizes["sizes"], sizes["doc_count"])) == \
        {float(k): v for k, v in expect.items()}
    st = out["st"].toPandas().iloc[0]
    assert st["st_max"] == pdf["size"].max()


def test_terms_size_with_nested_buckets(spark, idx):
    """terms size ranks OUTER term buckets by total doc_count; the kept
    terms retain ALL their sub-buckets (ES semantics)."""
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, "*", {
        "langs": {"terms": {"field": "lang", "size": 1},
                  "aggs": {"h": {"histogram": {"field": "size",
                                               "interval": 200}}}}}
    ).toPandas()
    top_lang = pdf.groupby("lang").size().sort_values(
        ascending=False).index[0]
    assert set(out["langs"]) == {top_lang}
    sub = pdf[pdf["lang"] == top_lang]
    expect = (sub.assign(b=(sub["size"] // 200) * 200).groupby("b").size())
    assert dict(zip(out["h"], out["doc_count"])) == \
        {float(k): v for k, v in expect.items()}
    assert (out["langs_sum_other_doc_count"]
            == len(pdf) - len(sub)).all()


def test_terms_custom_order(spark, idx):
    """terms `order` (tantivy TermsAggregation custom order, consumed by
    the reference via aggregations.rs:162): _key asc, _count asc, and
    order by a sub-metric; size trimming follows the custom order and
    sum_other_doc_count still counts the excluded docs."""
    from quickwit_spark.search.aggregations import InvalidAggregation
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    # _key asc: buckets in term order regardless of counts
    out = aggregate(s, "*", {"langs": {"terms": {
        "field": "lang", "order": {"_key": "asc"}}}}).toPandas()
    assert out["langs"].tolist() == sorted(pdf["lang"].unique())
    # _count asc + size 1: keeps the RAREST lang
    out = aggregate(s, "*", {"langs": {"terms": {
        "field": "lang", "size": 1,
        "order": {"_count": "asc"}}}}).toPandas()
    counts = pdf.groupby("lang").size()
    rare = counts.sort_values(kind="mergesort").index[0]
    assert set(out["langs"]) == {rare}
    assert (out["langs_sum_other_doc_count"]
            == len(pdf) - counts[rare]).all()
    # order by sub-metric desc + size 2
    out = aggregate(s, "*", {"langs": {
        "terms": {"field": "lang", "size": 2,
                  "order": {"sz": "desc"}},
        "aggs": {"sz": {"avg": {"field": "size"}}}}}).toPandas()
    means = pdf.groupby("lang")["size"].mean().sort_values(
        ascending=False)
    assert out["langs"].tolist() == means.index[:2].tolist()
    # stats sub-column addressing: order by "st.max"
    out = aggregate(s, "*", {"langs": {
        "terms": {"field": "lang", "order": {"st.max": "asc"}},
        "aggs": {"st": {"stats": {"field": "size"}}}}}).toPandas()
    mx = pdf.groupby("lang")["size"].max().sort_values(kind="mergesort")
    assert out["langs"].tolist() == mx.index.tolist()
    # rejected: unknown metric target, bad direction, sub-metric order
    # with nested bucket levels
    with pytest.raises(InvalidAggregation):
        aggregate(s, "*", {"langs": {"terms": {
            "field": "lang", "order": {"nope": "desc"}}}})
    with pytest.raises(InvalidAggregation):
        aggregate(s, "*", {"langs": {"terms": {
            "field": "lang", "order": {"_key": "down"}}}})
    with pytest.raises(InvalidAggregation):
        aggregate(s, "*", {"langs": {
            "terms": {"field": "lang", "order": {"sz": "desc"}},
            "aggs": {"h": {"histogram": {"field": "size",
                                         "interval": 200},
                           "aggs": {"sz": {"avg": {
                               "field": "size"}}}}}}})
    # order/size on an INNER bucket level: rejected, not silently
    # ignored (the flat-row output has one global row order)
    with pytest.raises(InvalidAggregation):
        aggregate(s, "*", {"h": {
            "histogram": {"field": "size", "interval": 200},
            "aggs": {"langs": {"terms": {
                "field": "lang", "order": {"_count": "desc"}}}}}})
    with pytest.raises(InvalidAggregation):
        aggregate(s, "*", {"h": {
            "histogram": {"field": "size", "interval": 200},
            "aggs": {"langs": {"terms": {"field": "lang",
                                         "size": 1}}}}})


def test_top_hits_metric(spark, idx):
    """top_hits in the ES front-end (aggregations.rs:85-172): per bucket,
    the top-N docs under the spec's sort as per-hit rows; combined with
    other metrics or without a sort it is rejected."""
    from quickwit_spark.search.aggregations import InvalidAggregation
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, A.Term("content", "beta"), {
        "langs": {"terms": {"field": "lang"},
                  "aggs": {"top": {"top_hits": {
                      "size": 2,
                      "sort": [{"size": {"order": "desc"}}],
                      "docvalue_fields": ["size"]}}}}}).toPandas()
    sub = pdf[pdf.content.str.contains("beta")]
    expect = (sub.sort_values("size", ascending=False)
              .groupby("lang").head(2))
    assert len(out) == len(expect)
    for lang, grp in expect.groupby("lang"):
        got = out[out["langs"] == lang]
        assert got["size"].tolist() == grp["size"].tolist()
        assert got["top_rank"].tolist() == list(range(1, len(grp) + 1))
    # from/size paging: rank window shifts
    page2 = aggregate(s, A.Term("content", "beta"), {
        "langs": {"terms": {"field": "lang"},
                  "aggs": {"top": {"top_hits": {
                      "size": 2, "from": 2,
                      "sort": [{"size": {"order": "desc"}}],
                      "docvalue_fields": ["size"]}}}}}).toPandas()
    assert set(page2["top_rank"]) == {3, 4}
    # top_hits with no buckets: window over the whole matched set
    flat = aggregate(s, A.Term("content", "beta"), {
        "top": {"top_hits": {"size": 3,
                             "sort": [{"size": {"order": "desc"}}],
                             "docvalue_fields": ["size"]}}}).toPandas()
    assert flat["size"].tolist() == \
        sub["size"].nlargest(3).tolist()
    with pytest.raises(InvalidAggregation):
        aggregate(s, A.Term("content", "beta"), {
            "top": {"top_hits": {"size": 2,
                                 "sort": [{"size": "desc"}]}},
            "avg_sz": {"avg": {"field": "size"}}})
    with pytest.raises(InvalidAggregation):
        aggregate(s, A.Term("content", "beta"), {
            "top": {"top_hits": {"size": 2}}})


def test_percentiles_approx_sketch(spark, idx):
    """approx: true routes through percentile_approx (mergeable sketch,
    the 100 TB path); values must sit within the sketch tolerance of
    the exact sort-based percentiles."""
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    exact = aggregate(s, "*", {"p": {"percentiles": {
        "field": "size", "percents": [50, 95]}}}).toPandas()
    approx = aggregate(s, "*", {"p": {"percentiles": {
        "field": "size", "percents": [50, 95],
        "approx": True}}}).toPandas()
    assert set(exact.columns) == set(approx.columns)
    for c in ("p_p50", "p_p95"):
        e, a = float(exact[c].iloc[0]), float(approx[c].iloc[0])
        assert abs(e - a) <= max(10.0, 0.05 * abs(e)), (c, e, a)


def test_top_hits_string_sort_entries(spark, idx):
    """ES also accepts string-form sort entries ('sort': ['field']) and
    {'field': 'desc'} shorthand — both must behave like the dict form."""
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    spec_str = {"langs": {"terms": {"field": "lang"},
                          "aggs": {"top": {"top_hits": {
                              "size": 2, "sort": ["size"]}}}}}
    spec_dict = {"langs": {"terms": {"field": "lang"},
                           "aggs": {"top": {"top_hits": {
                               "size": 2,
                               "sort": [{"size": {"order": "asc"}}]}}}}}
    got_str = aggregate(s, A.Term("content", "beta"),
                        spec_str).toPandas()
    got_dict = aggregate(s, A.Term("content", "beta"),
                         spec_dict).toPandas()
    pd.testing.assert_frame_equal(got_str, got_dict)
    # {"field": "desc"} shorthand
    spec_short = {"langs": {"terms": {"field": "lang"},
                            "aggs": {"top": {"top_hits": {
                                "size": 2, "sort": [{"size": "desc"}]}}}}}
    got_short = aggregate(s, A.Term("content", "beta"),
                          spec_short).toPandas()
    sub = pdf[pdf.content.str.contains("beta")]
    expect = (sub.sort_values("size", ascending=False)
              .groupby("lang").head(2))
    assert len(got_short) == len(expect)


def test_histogram_fractional_interval_edge_buckets(spark, tmp_path):
    """interval=0.1 with negative values: the gap-fill key range must be
    rounded, not cast-truncated (floor(-42.5)*0.1 divides back to
    -42.99999999999999; truncation dropped the real -4.3 bucket)."""
    docs = []
    vals = [-4.25, -1.05, 0.0, 1.15, 4.25]
    for i, v in enumerate(vals):
        docs.append({"repo": "r", "path": f"f{i}", "commit": "c",
                     "lang": "en", "content": "alpha", "ratio": v})
    pdf = pd.DataFrame(docs)
    cfg = IndexConfig(index_uid="hfrac", index_dir=str(tmp_path / "h"),
                      sha_col=None, store_cols=("ratio",))
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, A.Term("content", "alpha"), {
        "h": {"histogram": {"field": "ratio", "interval": 0.1,
                            "min_doc_count": 0}}}).toPandas()
    nonzero = out[out.doc_count > 0]["h"].round(6).tolist()
    import math
    expect = sorted({round(math.floor(v / 0.1) * 0.1, 6) for v in vals})
    assert sorted(nonzero) == expect
    assert int(out["doc_count"].sum()) == len(vals)
    # the full key range is contiguous at 0.1 steps
    ks = out["h"].round(6).tolist()
    assert ks == sorted(ks)
    assert abs((ks[-1] - ks[0]) - 0.1 * (len(ks) - 1)) < 1e-6


def test_range_agg_emits_empty_declared_buckets(spark, idx):
    """Every declared range appears, empty ones with doc_count 0
    (reference rest-api-tests aggregations/0001: 'medium' bucket)."""
    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    out = aggregate(s, A.Term("content", "alpha"), {
        "r": {"range": {"field": "size", "ranges": [
            {"to": -5, "key": "neg"},
            {"from": -5, "to": 300, "key": "small"},
            {"from": 300, "key": "big"}]}}}).toPandas()
    got = out.set_index("r")["doc_count"].to_dict()
    assert got["neg"] == 0
    assert got["small"] == int((pdf["size"] < 300).sum())
    assert got["big"] == int((pdf["size"] >= 300).sum())
    assert len(out) == 3


def test_malformed_specs_raise_invalid_aggregation(spark, idx):
    """User-controlled spec input must surface as InvalidAggregation
    (-> 400), never KeyError/TypeError from _collect_fields."""
    from quickwit_spark.search.aggregations import InvalidAggregation

    cfg, pdf = idx
    s = IndexSearcher(cfg.index_dir, spark=spark)
    with pytest.raises(InvalidAggregation, match="needs a 'field'"):
        aggregate(s, "*", {"a": {"terms": {}}})
    with pytest.raises(InvalidAggregation, match="needs a 'field'"):
        aggregate(s, "*", {"a": {"value_count": {}}})
    with pytest.raises(InvalidAggregation, match="must be an object"):
        aggregate(s, "*", {"a": 5})
    with pytest.raises(InvalidAggregation, match="unknown aggregation"):
        aggregate(s, "*", {"a": {"termz": {}}})


def test_extended_stats_variance_never_negative(spark, idx):
    """Large values with tiny spread: the sumsq/n - mean^2 formula can
    cancel to a slightly negative double; it must clamp to 0 (std 0,
    not NaN) like ES."""
    import math

    cfg, pdf = idx
    root = cfg.index_dir + "_xs"
    docs = [{"repo": "r", "path": f"f{i}.py", "commit": "c", "lang": "en",
             "content": "alpha", "ts": 1_700_000_000_000_000_000 + i}
            for i in range(4)]
    cfg2 = IndexConfig(index_uid="xs", index_dir=root,
                       sha_col=None, store_cols=("ts",))
    build_index_pandas(pd.DataFrame(docs), cfg2, num_partitions=1)
    s = IndexSearcher(root, spark=spark)
    row = aggregate(s, "*", {"t": {"extended_stats": {"field": "ts"}}}
                    ).toPandas().iloc[0]
    assert row["t_variance"] >= 0.0
    assert not math.isnan(row["t_std_deviation"])

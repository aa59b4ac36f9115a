"""Doc-mapper units: datetime parsing edges, projection drops,
u64 integrity, concat value lists, source filtering."""

import pytest

from quickwit_spark.pipeline.doc_mapper import (
    DocMapper, MappingError, parse_datetime_bound,
    parse_datetime_value, parse_java_format_millis,
    parse_rfc3339_millis)
from quickwit_spark.search.es_dsl import filter_source_doc


def test_rfc3339_validation():
    assert parse_rfc3339_millis("2015-02-01T00:00:00Z") == 1422748800000
    assert parse_rfc3339_millis("2015-02-01T00:00:00.001999Z") \
        == 1422748800001  # truncates to millis
    # timegm would silently roll these over without validation
    assert parse_rfc3339_millis("2015-13-01T00:00:00Z") is None
    assert parse_rfc3339_millis("2015-02-45T00:00:00Z") is None
    assert parse_rfc3339_millis("2015-02-01T99:00:00Z") is None
    # offsets
    assert parse_rfc3339_millis("2015-02-01T01:00:00+01:00") \
        == 1422748800000


def test_epoch_magnitude_scaling():
    assert parse_datetime_value(1684993001) == 1684993001000
    assert parse_datetime_value(1684993001000) == 1684993001000
    assert parse_datetime_value(1684993001000000) == 1684993001000
    assert parse_datetime_bound("2023/05/25") == 1684972800000
    assert parse_datetime_bound("2023-05-25") == 1684972800000


def test_java_format_quoted_literals():
    ms = parse_java_format_millis(
        "2015|02|01 T00:00:00.001999Z",
        "yyyy|MM|dd 'T'HH:mm:ss.SSSSSS'Z'")
    assert ms == 1422748800001


def _mapper(extra_dm=None, **kw):
    dm = {"mode": "dynamic",
          "dynamic_mapping": {"tokenizer": "default", "fast": True},
          "field_mappings": [
              {"name": "ts", "type": "datetime", "fast": True},
              {"name": "big", "type": "u64", "fast": True},
              {"name": "small", "type": "i64", "fast": True}]}
    dm.update(extra_dm or {})
    return DocMapper({"version": "0.7", "index_id": "t",
                      "doc_mapping": dm, **kw})


def test_invalid_docs_drop_not_fail():
    m = _mapper(extra_dm={"timestamp_field": "ts"})
    errors = []
    pdf = m.project([{"ts": 1, "big": 5},
                     {"big": 6},                # missing timestamp
                     {"ts": "not-a-date"},      # unparseable
                     {"ts": 2},
                     {"ts": 3, "big": -3},        # u64 below range
                     {"ts": 4, "big": 2**64},     # u64 above range
                     {"ts": 5, "small": 2**63},   # i64 above range
                     {"ts": 6, "big": float("inf")}],
                    "b", errors=errors)
    assert len(pdf) == 2
    assert [e["ordinal"] for e in errors] == [1, 2, 4, 5, 6, 7]
    assert all("out of range" in e["reason"] for e in errors[2:5])
    # surviving ids keep their ORIGINAL ordinals (replay-stable)
    assert pdf["__doc_key"].tolist() == ["b-00000000", "b-00000003"]


def test_u64_full_range_survives():
    m = _mapper()
    pdf = m.project([{"big": 18_000_000_000_000_000_000},
                     {"big": 1769070189829214200}, {}], "b")
    assert str(pdf["big"].dtype) == "UInt64"
    assert pdf["big"].tolist()[:2] == [18_000_000_000_000_000_000,
                                       1769070189829214200]


def test_tag_and_default_field_validation():
    with pytest.raises(MappingError, match="tag field"):
        _mapper(extra_dm={
            "field_mappings": [{"name": "t", "type": "text",
                                "tokenizer": "default"}],
            "tag_fields": ["t"]})
    with pytest.raises(MappingError, match="unknown default"):
        _mapper(extra_dm={"mode": "lenient", "field_mappings": [],
                          "dynamic_mapping": None},
                search_settings={"default_search_fields": ["nope"]})


def test_source_filter_dotted():
    src = {"actor": {"id": 5, "login": "x"}, "id": 9, "t": "v"}
    assert filter_source_doc(src, None, ["actor"]) == {"id": 9,
                                                      "t": "v"}
    assert filter_source_doc(src, ["actor"], []) == {
        "actor": {"id": 5, "login": "x"}}
    assert filter_source_doc(src, ["actor.id"], []) == {
        "actor": {"id": 5}}
    # excludes win over includes
    assert filter_source_doc(src, ["actor", "id"], ["actor"]) == {
        "id": 9}
    assert filter_source_doc(src, ["actor"], ["actor.login"]) == {
        "actor": {"id": 5}}
    # arrays of objects are projected per element
    arr = {"items": [{"id": 2, "name": "n"}]}
    assert filter_source_doc(arr, ["items.id"], []) == {
        "items": [{"id": 2}]}
    assert filter_source_doc(arr, None, ["items.name"]) == {
        "items": [{"id": 2}]}

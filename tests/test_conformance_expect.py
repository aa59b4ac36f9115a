"""``$expect``/``$previous`` expressions of the conformance runner are
untrusted corpus strings: the shapes the corpus uses evaluate, anything
reaching for interpreter internals is refused before evaluation."""

import pytest

from quickwit_spark.testing.conformance import (
    ExpectationError, _safe_eval, check_expected)

_EXPLOIT = ("[c for c in ().__class__.__bases__[0].__subclasses__() "
            "if c.__name__ == 'BuiltinImporter'][0]"
            ".load_module('os').getcwd()")


def test_expect_corpus_shapes_evaluate():
    hits = [{"sort": [3]}, {"sort": [2]}, {"sort": [1]}]
    assert _safe_eval("len(val) == 3", hits)
    assert _safe_eval("val[0]['sort'][0] > val[-1]['sort'][0]", hits)
    assert _safe_eval("val['_scroll_id']", {"_scroll_id": "abc"}) == "abc"
    assert _safe_eval("val * 2 + 1 == 11 and not val < 0", 5)
    assert _safe_eval("abs(val - 0.5) < 1e-6 or val in [1, 2]", 0.5)
    assert _safe_eval("sorted(val, reverse=True)[:2]", [1, 3, 2]) == [3, 2]
    assert _safe_eval("val.real == 4", 4)
    check_expected([1, 2], {"$expect": "len(val) == 2"})
    with pytest.raises(ExpectationError):
        check_expected([1, 2], {"$expect": "len(val) == 3"})


@pytest.mark.parametrize("expr", [
    _EXPLOIT,
    "().__class__",
    "val.__class__.__mro__",
    "type(val).mro()",
    "__import__('os')",
    "open('x')",
    "(lambda: 1)()",
    "[x for x in val]",
])
def test_expect_rejects_escapes(expr):
    with pytest.raises(ValueError):
        _safe_eval(expr, [1])

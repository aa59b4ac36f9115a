"""Paging to exhaustion as a property. A sorted search paged by its
`next_cursor` until a page comes back empty terminates and returns every
hit exactly once, in the one-shot order. This holds over one index and
over a `logs`/`logs-2` union, whose uids prefix each other. A values-only
cursor (ES `search_after` with the sort values alone) keeps only the hits
strictly after its values, so it skips their ties."""

import tempfile

from hypothesis import example, given, settings
from hypothesis import strategies as st

from quickwit_spark.search import mgmt_api as M
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search.multi import UnionSearcher

QUERY = "w:alpha"
SORTS = [(("n", "asc"),), (("n", "desc"),), (("_score", "desc"),)]

# some docs lack the sort field `n`; "beta" alone does not match QUERY
_doc = st.fixed_dictionaries(
    {"w": st.sampled_from(["alpha", "alpha beta", "alpha alpha beta gamma",
                           "beta"])},
    optional={"n": st.integers(-2, 3)})
# one index: one or two ingests, each a segment
_index = st.lists(st.lists(_doc, min_size=1, max_size=6),
                  min_size=1, max_size=2)


def _mk(root: str, name: str, batches: list) -> str:
    M.create_index(root, {
        "version": "0.7", "index_id": name,
        "doc_mapping": {"mode": "dynamic",
                        "dynamic_mapping": {"tokenizer": "default",
                                            "fast": True}}})
    cfg = M.load_index_config(f"{root}/{name}")
    for docs in batches:
        M.ingest_ndjson(cfg, docs)
    return f"{root}/{name}"


def _rank(sort_by, value) -> tuple:
    """A sort value's place under a one-field sort: missing values come
    last in both directions."""
    ((_field, order),) = sort_by
    if value is None:
        return (1, 0)
    return (0, -value if order == "desc" else value)


def _addrs(res) -> list:
    return [(h.segment_id, h.doc_id) for h in res.hits]


# every sort value ties, across two indexes and three segments
@example(logs=[[{"w": "alpha", "n": 1}] * 3, [{"w": "alpha", "n": 1}]],
         logs2=[[{"w": "alpha", "n": 1}] * 2], sort_by=SORTS[0], k=1)
# no doc has the sort field
@example(logs=[[{"w": "alpha"}, {"w": "alpha beta"}]], logs2=None,
         sort_by=SORTS[1], k=1)
# nothing matches
@example(logs=[[{"w": "beta"}]], logs2=[[{"w": "beta", "n": 0}]],
         sort_by=SORTS[2], k=2)
@given(logs=_index, logs2=st.none() | _index,
       sort_by=st.sampled_from(SORTS), k=st.integers(1, 4))
@settings(max_examples=80, deadline=None, derandomize=True)
def test_paging_to_exhaustion(logs, logs2, sort_by, k):
    with tempfile.TemporaryDirectory() as root:
        first = _mk(root, "logs", logs)
        s = (IndexSearcher(first) if logs2 is None else
             UnionSearcher([first, _mk(root, "logs-2", logs2)]))

        def page(cursor, size):
            return s.sort_search(QUERY, k=size, sort_by=sort_by,
                                 fetch_fields=False, search_after=cursor)

        full = page(None, 1000)
        want = _addrs(full)
        assert len(want) == full.num_hits
        got, cursor = [], None
        for _ in range(len(want) // k + 2):
            res = page(cursor, k)
            if not res.hits:
                break
            got.extend(_addrs(res))
            cursor = res.next_cursor
        else:
            raise AssertionError(f"paging did not end: {got}")
        assert got == want

        for values in dict.fromkeys(h.sort for h in full.hits):
            after = [(h.segment_id, h.doc_id) for h in full.hits
                     if _rank(sort_by, h.sort[0]) > _rank(sort_by,
                                                          values[0])]
            assert _addrs(page(values, 1000)) == after

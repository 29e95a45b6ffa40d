"""The mapInArrow crossings (parse_nodes / serialize_html / diff_documents)
must produce EXACTLY the rows of their oracle-based references (parse_one,
core/oracle.generate, core/diff.diff_pair) — including nested attrs, null
columns for error docs, and the attr_changes column — over a corpus that
exercises ok/error/divergent statuses and every attr quirk."""

from __future__ import annotations

from html_parser_spark.core import oracle
from html_parser_spark.core.diff import diff_pair

DOCS = [
    ("d1", '<div data-x-id="a1" keep="k"><p class="" nameonly>hi</p><img src=u alt=/></div>'),
    ("d2", "plain text only"),
    ("d3", "<p>unclosed"),           # divergent (elementRE never matches at EOF)
    ("d4", "<p>a</div>"),            # tag mismatch -> error, nodes NULL
    ("d5", "<!-- c --><![CDATA[x]]{{ v }}<p>t</p>"),
    ("d6", ""),
    ("d7", None),                    # dirty input
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id string, html string")


def _sorted_rows(df):
    return [r.asDict(recursive=True) for r in df.orderBy("doc_id").collect()]


def test_parse_nodes_arrow_equals_pandas(spark):
    """parse_nodes equals parse_one (the test reference built on
    core/oracle.tokenize) row for row."""
    from html_parser_spark.operators.parse import parse_nodes, parse_one

    a = _sorted_rows(parse_nodes(_df(spark)))
    want = []
    for doc_id, html in sorted(DOCS):
        nodes, status, error = parse_one(html if html is not None else "")
        want.append({"doc_id": doc_id, "nodes": nodes, "status": status, "error": error})
    assert a == want
    by_id = {r["doc_id"]: r for r in a}
    assert by_id["d4"]["status"] == "error" and by_id["d4"]["nodes"] is None
    # attr quirks through the arrow crossing
    div = by_id["d1"]["nodes"][0]
    assert [(x["name"], x["value"]) for x in div["attrs"]] == [("id", "a1"), ("keep", "k")]
    pnode = by_id["d1"]["nodes"][1]
    assert [(x["name"], x["value"]) for x in pnode["attrs"]] == [("class", None)]
    img = by_id["d1"]["nodes"][3]
    assert [(x["name"], x["value"]) for x in img["attrs"]] == [("src", "u"), ("alt", "")]
    # comment/CDATA/interpolation nodes with the [raw, inner] pair preserved
    kinds = [(n["kind"], n["content"], n["inner"]) for n in by_id["d5"]["nodes"]]
    assert kinds == [
        ("Comment", " c ", None),
        ("CDATA", "x", None),
        ("Interpolation", "{{ v }}", "v"),
        ("Element", None, None),
        ("Text", "t", None),
    ]


def _generate_ref(html):
    """(html_out, status, error) from core/oracle: parse_html + generate."""
    try:
        root = oracle.parse_html(html)
    except oracle.Divergence:
        return None, oracle.STATUS_DIVERGENT, oracle.E_DIVERGENT
    except oracle.ParseError as e:
        return None, oracle.STATUS_ERROR, e.code
    return oracle.generate(root), oracle.STATUS_OK, None


def test_serialize_arrow_equals_pandas(spark):
    """serialize_html equals core/oracle.generate(parse_html(html))."""
    from html_parser_spark.operators.serialize import serialize_html

    a = _sorted_rows(serialize_html(_df(spark)))
    want = [
        dict(zip(("doc_id", "html_out", "status", "error"),
                 (doc_id,) + _generate_ref(html if html is not None else "")))
        for doc_id, html in sorted(DOCS)
    ]
    assert a == want
    by_id = {r["doc_id"]: r for r in a}
    assert by_id["d1"]["html_out"] == (
        '<div id="a1" keep="k"><p class="undefined">hi</p>'
        '<img src="u" alt=""></img></div>'
    )


def test_diff_arrow_equals_pandas(spark):
    from html_parser_spark.operators.diff import diff_documents

    new = _df(spark)
    old = spark.createDataFrame(
        [
            ("d1", '<div data-x-id="a0" keep="k" extra="e"><p class="" nameonly>hi</p><img src=u alt=/></div>'),
            ("d2", "other text"),
            ("d4", "<p>a</div>"),
            ("d8", "<p>only old</p>"),
        ],
        "doc_id string, html string",
    )
    a = _sorted_rows(diff_documents(new, old))
    # every paired row equals core/diff.diff_pair (parse old, parse new,
    # transform, serialize); unpaired rows carry the missing_* status
    old_by_id = {r["doc_id"]: r["html"] for r in old.collect()}
    new_by_id = dict(DOCS)
    assert [r["doc_id"] for r in a] == sorted(set(old_by_id) | set(new_by_id))
    for r in a:
        n, o = new_by_id.get(r["doc_id"]), old_by_id.get(r["doc_id"])
        got = (r["diff_html"], r["status"], r["error"])
        if n is None:
            assert got == (None, "missing_new", None)
        elif o is None:
            assert got == (None, "missing_old", None)
        else:
            assert got == diff_pair(n, o), r["doc_id"]
    by_id = {r["doc_id"]: r for r in a}
    # attrs-only change on the div: updated id (a0->a1), removed extra
    changes = [
        (c["node_id"], c["change"], c["name"], c["value"])
        for c in by_id["d1"]["attr_changes"]
    ]
    assert changes == [(2, "removed", "extra", "e"), (2, "updated", "id", "a1")]
    assert by_id["d2"]["n_ins"] == 1  # text replaced
    assert by_id["d8"]["status"] == "missing_new"
    assert by_id["d3"]["status"] == "missing_old" and by_id["d3"]["attr_changes"] is None

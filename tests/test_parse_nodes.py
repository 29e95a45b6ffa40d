"""parse_one (operators/parse.py) must equal the oracle tree flattened in
document order (ascending id), for every fixture."""

from __future__ import annotations

from html_parser_spark.core import oracle
from html_parser_spark.operators.parse import parse_one
from html_parser_spark.sources.fixtures import FIXTURES


def _flatten(node, out):
    for c in node.get("children") or ():
        row = {
            "id": c["id"],
            "pid": c["pid"],
            "kind": c["type"],
            "tag": c.get("tagName"),
            "unary": c.get("unary") if c["type"] == oracle.ELEMENT else None,
        }
        if c["type"] == oracle.ELEMENT:
            row["content"] = None
            row["inner"] = None
            row["attrs"] = [{"name": a["name"], "value": a["value"]} for a in c["attrs"]]
        else:
            content = c["content"]
            inner = None
            if c["type"] == oracle.INTERPOLATION:
                content, inner = content  # reference's [raw, inner] pair
            row["content"] = content
            row["inner"] = inner
            row["attrs"] = None
        out.append(row)
        if c["type"] == oracle.ELEMENT and not c.get("unary"):
            _flatten(c, out)
    return out


def test_parse_one_matches_oracle_flat():
    import sys

    sys.setrecursionlimit(100_000)
    for fid, _cat, html, expected_status in FIXTURES:
        nodes, status, error = parse_one(html)
        assert status == expected_status, (fid, status, error)
        if expected_status != "ok":
            assert nodes is None
            continue
        want = sorted(_flatten(oracle.parse_html(html), []), key=lambda r: r["id"])
        got = sorted(nodes, key=lambda r: r["id"])
        # our rows carry unary=False for non-self-closed elements; oracle
        # promoted opens also have unary False — normalize bool-vs-None only
        # for TAG_NAME rows (both True there)
        assert got == want, fid


def test_parse_one_flat_equals_dict_form():
    """The kernel form (parse_one_flat: tuple rows in NODE_STRUCT order,
    which map_rows builds into the nodes column) must produce exactly the
    dict form's rows — same statuses, None on failure — for every
    fixture."""
    from tests.test_kernel_edges import _flat_rows

    for fid, _cat, html, _exp in FIXTURES:
        assert _flat_rows(html) == parse_one(html), fid


def test_document_order_is_ascending_id():
    nodes, status, _ = parse_one("<div><p>a</p><img src='x'/>b</div>")
    assert status == "ok"
    assert [n["id"] for n in nodes] == sorted(n["id"] for n in nodes)
    kinds = [(n["kind"], n["tag"]) for n in nodes]
    assert kinds == [
        ("Element", "div"),
        ("Element", "p"),
        ("Text", None),
        ("Element", "img"),
        ("Text", None),
    ]

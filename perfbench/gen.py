"""Seeded input generators owned by the benchmark.

Nothing here imports the program's own fixture code, so an edit to the
program cannot silently change a workload. Two inputs are built:

- ``markup_corpus``: interleaved documents in the FIXTURES.md section 1
  shape, ``(doc_id, spans: [(kind, text, media_ref, offset)])``. Text spans
  are concatenations of balanced HTML fragments (nested markup, comments,
  media tags, entities, interpolation, uppercase tags, attribute quirks,
  tables and lists). Every fragment starts with ``<`` and leaves the tag
  stack as it found it, so a span's extraction is the concatenation of its
  fragments' extractions. That gives the corpus a closed-form expected
  status histogram and span total, computed from per-fragment reference
  outputs (``core/oracle``) and never from the kernel under test. A small
  share of documents carries one malformed span (error or divergent), and
  0.1% are mega-docs: one text span of a repeated list/table block.
- ``documents_table`` / ``embeddings_table``: the registry queries' inputs
  in the shape of the sf0.1 test tables (``documents``: doc_id, text of
  pure ``[a-z ]`` words, lang, source, n_chars, with planted near-copies;
  ``embeddings``: vec_id, 64-dim unit float vectors, label).
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable, Optional

_WORDS = (
    "spark arrow batch column vector span media doc parse tree token stack "
    "shuffle partition salt skew lineage snapshot commit resume metric content "
    "main boiler plate density link text heading table list item query merge"
).split()

# (status, error) of each malformed payload comes from the reference oracle
# at build time; these are the FIXTURES.md section 2 error/divergent rows.
_BAD_PAYLOADS = (
    "<div>x</p>",
    "<p>a<br>b</p>",
    "<div/>",
    "<p>a > b</p>",
    "<div><![CDATA[a<b]]></div>",
    "<div>x</div",
)

MEGA_BYTES = 100_000  # a text span longer than this marks a mega-doc


def is_mega(spans: list) -> bool:
    return any(len(s[1] or "") > MEGA_BYTES for s in spans)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _fragment(rng: random.Random, r: float) -> str:
    """One balanced fragment that starts with '<'; ``r`` in [0, 1) picks its
    category."""
    w = _words(rng, 2, 14)
    if r < 0.22:
        tag = rng.choice(("p", "span", "b", "em", "strong", "h2", "li"))
        return f"<{tag}>{w}</{tag}>"
    if r < 0.36:
        outer, inner = rng.choice(("div", "section", "article")), rng.choice(("p", "b", "i"))
        return f'<{outer} class="c{rng.randint(0, 99)}"><{inner}>{w}</{inner}> {_words(rng, 1, 5)}</{outer}>'
    if r < 0.46:
        src = f"media://img/{rng.randint(0, 999_999):06d}.jpg"
        return f'<figure><img src="{src}" alt="{_words(rng, 1, 3)}"/><figcaption>{w}</figcaption></figure>'
    if r < 0.54:
        return f"<div><!-- {_words(rng, 1, 6)} -->{w}</div>\n"
    if r < 0.60:
        return f"<p>{{{{ item.{rng.choice(_WORDS)} }}}} {w} &amp; {_words(rng, 1, 3)}&nbsp;</p>"
    if r < 0.66:
        return f"<DIV><P>{w}</P></DIV>"
    if r < 0.72:
        return f'<a href=page{rng.randint(0, 999)}.html data-x="{rng.randint(0, 9)}" a="">{w}</a>'
    if r < 0.80:
        rows = "".join(
            f"<tr><td>{_words(rng, 1, 4)}</td><td><span>{_words(rng, 1, 4)}</span></td></tr>"
            for _ in range(rng.randint(1, 4))
        )
        return f"<table><tbody>{rows}</tbody></table>"
    if r < 0.87:
        items = "".join(f"<li>{_words(rng, 1, 5)}</li>" for _ in range(rng.randint(2, 8)))
        return f"<ul>{items}</ul>"
    if r < 0.91:
        depth = rng.randint(5, 40)
        return "<div>" * depth + w + "</div>" * depth
    if r < 0.95:
        ref = f"media://av/{rng.randint(0, 99_999):05d}"
        return (
            f'<video><source src="{ref}.mp4"/><track src="{ref}.vtt"/></video>'
            f"<p>{w}<br/>{_words(rng, 1, 4)}</p>"
        )
    return f'<p>{w}</p><input type="checkbox" disabled/><hr/>'


def _mega_block(rng: random.Random) -> str:
    """A list- and table-heavy balanced block that mega-docs repeat."""
    parts = []
    for _ in range(12):
        items = "".join(f"<li><a href=x>{_words(rng, 1, 3)}</a></li>" for _ in range(6))
        cells = "".join(f"<td><p>{_words(rng, 1, 4)}</p></td>" for _ in range(5))
        parts.append(f"<ul>{items}</ul><table><tr>{cells}</tr></table>")
    return "<div>" + "".join(parts) + "</div>"


@dataclass
class Corpus:
    """A generated markup corpus and its closed-form expectations."""

    rows: list  # (doc_id, [Span, ...])
    n_docs: int
    n_bytes: int
    mega_docs: int
    status_counts: dict
    total_spans: int
    input_text_spans: int

    def summary(self) -> dict:
        return {
            "docs": self.n_docs,
            "mb": round(self.n_bytes / 1e6, 3),
            "input_text_spans": self.input_text_spans,
            "expected_spans": self.total_spans,
            "mega_docs": self.mega_docs,
            "error_docs": self.status_counts["error"],
            "divergent_docs": self.status_counts["divergent"],
        }


def markup_corpus(
    seed: int,
    n_docs: int,
    reference: Callable[[str], tuple],
    pool_size: int = 400,
    bad_rate: float = 0.03,
    mega_rate: float = 0.001,
    mega_repeats: int = 180,
    spread: int = 1,
) -> Corpus:
    """Build the corpus. ``reference(html) -> (spans, status, error)`` is the
    reference extraction used once per fragment and per malformed payload.

    The seed moves content, not cost: the fragment pool has a fixed mix of
    categories, the number of mega-docs and malformed documents are fixed
    shares of ``n_docs``, and a mega-doc is ``mega_repeats`` copies of one
    block (about 1 MB). The k-th mega-doc sits at a row index equal to
    ``k`` modulo ``spread``, so dealing rows over ``spread`` partitions by
    index gives every partition the same number of mega-docs."""
    rng = random.Random(seed)
    pool = [_fragment(rng, (i + 0.5) / pool_size) for i in range(pool_size)]
    pool_out = []
    for frag in pool:
        spans, status, _ = reference(frag)
        if status != "ok":
            raise ValueError(f"generator fragment is not well formed: {frag!r}")
        pool_out.append(spans)
    bad_status = [reference(p)[1] for p in _BAD_PAYLOADS]
    block = _mega_block(rng)
    block_spans, block_status, _ = reference(block)
    if block_status != "ok":
        raise ValueError("generator mega block is not well formed")
    n_mega = round(n_docs * mega_rate)
    mega_at: set = set()
    while len(mega_at) < n_mega:
        mega_at.add(rng.randrange(n_docs // spread) * spread + len(mega_at) % spread)
    rest = [i for i in range(n_docs) if i not in mega_at]
    bad_docs = set(rng.sample(rest, round(n_docs * bad_rate)))

    rows: list = []
    counts = {"ok": 0, "error": 0, "divergent": 0}
    total_spans = 0
    n_bytes = 0
    n_text = 0
    mega = 0
    for i in range(n_docs):
        doc_id = f"doc-{i:012d}"
        spans: list = []
        recipe: list = []  # ('m', ref) | ('t', [pool idx]) | ('x', bad idx) | ('g', repeats)
        if i in mega_at:
            spans.append(("text", block * mega_repeats, None, 0))
            recipe.append(("g", mega_repeats))
            mega += 1
        else:
            n_spans = min(64, 1 + int(rng.expovariate(1 / 6.0)))
            bad_at = rng.randrange(n_spans) if i in bad_docs else -1
            for off in range(n_spans):
                if rng.random() < 0.2 and off != bad_at:
                    ref = f"media://blob/{rng.randint(0, 10**9):09d}" + (
                        ".pdf" if rng.random() < 0.1 else ".jpg"
                    )
                    spans.append(("media", None, ref, off))
                    recipe.append(("m", ref))
                    continue
                idx = rng.choices(range(pool_size), k=1 + int(rng.expovariate(1 / 2.5)))
                html = "".join(pool[j] for j in idx)
                if off == bad_at:
                    b = rng.randrange(len(_BAD_PAYLOADS))
                    html += _BAD_PAYLOADS[b]
                    recipe.append(("x", b))
                else:
                    recipe.append(("t", idx))
                spans.append(("text", html, None, off))
        n_out, status = _expected_count(recipe, pool_out, block_spans, bad_status)
        counts[status] += 1
        total_spans += n_out
        n_bytes += len(doc_id) + sum(len(s[1] or s[2]) for s in spans)
        n_text += sum(1 for s in spans if s[0] == "text")
        rows.append((doc_id, spans))

    return Corpus(rows, n_docs, n_bytes, mega, counts, total_spans, n_text)


def _expected_count(recipe, pool_out, block_spans, bad_status) -> tuple:
    n = 0
    for op, arg in recipe:
        if op == "m":
            n += 1
        elif op == "t":
            n += sum(len(pool_out[j]) for j in arg)
        elif op == "g":
            n += len(block_spans) * arg
        else:
            return n, bad_status[arg]
    return n, "ok"


# ---------------------------------------------------------------------------
# registry-query tables (sf0.1 shape)
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash spark window merge "
    "column vector stream data small join filter big group customer sort order "
    "line query batch"
).split()
_LANGS = ("en", "en", "en", "en", "es", "zh", "de", "fr", "es", "zh", "de", "fr")


def documents_table(seed: int, n_docs: int, near_copy_rate: float = 0.05) -> dict:
    """Columns of the ``documents`` table: doc_id 0..n-1, source src{id % 20},
    10-100 words of pure [a-z ] text; a share of rows are near-copies of an
    earlier-or-later row (same words plus a trailing ' dup')."""
    rng = random.Random(seed * 7919 + 1)
    texts = [
        " ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    for i in range(n_docs):
        if rng.random() < near_copy_rate:
            j = rng.randrange(n_docs)
            if j != i:
                texts[i] = texts[j] + " dup"
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings_table(seed: int, n_vecs: int, dim: int = 64) -> dict:
    """Columns of the ``embeddings`` table: unit-norm float32 vectors with a
    label in 0..9."""
    import numpy as np

    rng = np.random.default_rng(seed * 104_729 + 3)
    x = rng.standard_normal((n_vecs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": list(range(n_vecs)),
        "embedding": [row.astype("float32") for row in x],
        "label": rng.integers(0, 10, n_vecs).astype("int32").tolist(),
    }


def sample_indices(seed: int, n: int, k: int, skip: Optional[set] = None) -> list:
    """A seeded sample of ``k`` row indices, avoiding ``skip``."""
    rng = random.Random(seed * 31 + 17)
    skip = skip or set()
    pool = [i for i in range(n) if i not in skip]
    return sorted(rng.sample(pool, min(k, len(pool))))

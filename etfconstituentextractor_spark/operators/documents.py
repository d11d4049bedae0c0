"""Document→rows table function: the reference's soul, distributed.

The reference (`/root/reference/ETFQuarterlyHoldingsExtractor.py`) is a
sequential scraper: per filing it fetches HTML (:58-63), parses a DOM
(:64), walks anchored tree patterns to one reporting date (:67-77) and
N holding rows (:87-130), skipping failures (:61-63, :80-82). Here the
same capability is a distributed pipeline stage:

- **fetch is outside the engine** — tests/queries render deterministic
  fixture HTML as a DataFrame column (`render_filing_html`); the stage
  parses an HTML column whatever produced it. No network is required
  or used here.
- **parse runs on executors** via `mapInPandas` (Arrow batches in/out),
  one task per partition of the filing index — the parallelization
  point the reference lacks (its driver-side `iterrows` loop, :153-158).
- **failures become data**: an `error` column instead of print-and-skip
  (:37/:62/:81), so at 100 TB failure rates are observable with a
  groupBy instead of grep.

The parser is a ~60-line stdlib DOM builder (html.parser) plus the
anchored-walk helpers the reference uses via BeautifulSoup
(find/next-sibling navigation, substring anchors, strip-text,
null-tolerant extraction — R8-R16 in SURVEY.md §2A). No third-party
parser dependency.

Plan shape note: the UDTF boundary is opaque to Catalyst, so callers
should project/filter the filing index BEFORE `parse_filings` (manual
pruning at the opaque boundary — SURVEY.md §4.2).
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: output schema of the parse stage — all extracted fields stay strings
#: (the reference transports strings end-to-end, SURVEY.md §1.2); typed
#: boundary casts happen in the caller where they are visible to
#: Catalyst.
PARSE_SCHEMA = (
    "filing_id bigint, filing_seq int, reporting_date string, "
    "issuer string, cusip string, shares_str string, value_str string, "
    "pct_str string, error string"
)


# ---------------------------------------------------------------------------
# Fixture HTML renderer (JVM-side column expressions, zero Python).
# ---------------------------------------------------------------------------
def _row(label: str, value: Column) -> Column:
    return F.concat(F.lit(f"<tr><td>{label}</td><td>"), value, F.lit("</td></tr>"))


def holding_fragment(
    issuer: Column, shares: Column, value: Column, pct: Column,
    cusip: Column | None = None,
) -> Column:
    """One investment section (mirrors the per-investment h1+table shape
    the reference walks, ETFQuarterlyHoldingsExtractor.py:87-130).

    ``cusip`` is optional per holding: the reference's README promises
    CUSIP but its extraction is commented out (:105-107) — the engine
    carries it as a nullable column (SURVEY.md §2A R12), and fixtures
    render it only for some holdings to exercise the null path."""
    cusip_row = (
        [F.coalesce(_row("CUSIP", cusip), F.lit(""))] if cusip is not None else []
    )
    return F.concat(
        F.lit("<h1>Portfolio investment</h1><table>"),
        _row("Name of Issuer", issuer),
        *cusip_row,
        _row("Number of Shares", shares),
        _row("Value (USD)", value),
        _row("Pct of Net Assets", pct),
        F.lit("</table>"),
    )


def filing_html(reporting_date: Column | None, body: Column) -> Column:
    """Assemble a full filing document. ``reporting_date=None`` renders
    a malformed filing (no date table) — the parser must surface it as
    an error row (reference behavior: silent skip, :80-82)."""
    header = F.lit("<html><body><h4>FORM NPORT-P</h4>")
    if reporting_date is not None:
        header = F.concat(
            header,
            F.lit("<table><tr><td>Reporting date</td><td>"),
            reporting_date,
            F.lit("</td></tr></table>"),
        )
    return F.concat(header, body, F.lit("</body></html>"))


# ---------------------------------------------------------------------------
# Executor-side DOM + anchored walk (stdlib only).
# ---------------------------------------------------------------------------
class _Node:
    __slots__ = ("tag", "children", "parent", "text_parts", "order")

    def __init__(self, tag: str, parent: "_Node | None", order: int):
        self.tag = tag
        self.parent = parent
        self.children: list[_Node] = []
        self.text_parts: list[str] = []
        self.order = order

    def text(self) -> str:
        parts = list(self.text_parts)
        for c in self.children:
            parts.append(c.text())
        return "".join(parts)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.root = _Node("__root__", None, 0)
        self.cur = self.root
        self.flat: list[_Node] = []
        self._n = 0

    def handle_starttag(self, tag, attrs):
        self._n += 1
        node = _Node(tag, self.cur, self._n)
        self.cur.children.append(node)
        self.flat.append(node)
        self.cur = node

    def handle_endtag(self, tag):
        n = self.cur
        while n is not self.root and n.tag != tag:
            n = n.parent
        if n is not self.root:
            self.cur = n.parent

    def handle_data(self, data):
        self.cur.text_parts.append(data)


def _parse_dom(html: str) -> _TreeBuilder:
    tb = _TreeBuilder()
    tb.feed(html)
    return tb


def _find_all(tb: _TreeBuilder, tag: str, contains: str | None = None) -> list[_Node]:
    return [
        n
        for n in tb.flat
        if n.tag == tag and (contains is None or contains in n.text())
    ]


def _find_next(tb: _TreeBuilder, after: _Node, tag: str) -> _Node | None:
    """First node of ``tag`` strictly after ``after`` in document order
    (the reference's soup.find_next). ``flat[i].order == i+1``, so the
    scan starts directly after the anchor — O(distance), not O(doc):
    with hundreds of holding sections per filing a from-the-top scan
    would make the parse quadratic in document size."""
    for n in tb.flat[after.order :]:
        if n.tag == tag:
            return n
    return None


def _cell_after_label(table: _Node, label: str) -> str | None:
    """In a table, the (stripped) text of the td following the td whose
    text contains ``label`` (the reference's find(...).find_next_sibling
    walk, :100-127). Missing label/sibling → None (null-tolerant)."""
    for tr in table.children:
        if tr.tag != "tr":
            continue
        tds = [c for c in tr.children if c.tag == "td"]
        for i, td in enumerate(tds):
            if label in td.text() and i + 1 < len(tds):
                return tds[i + 1].text().strip()
    return None


_HOLDING_FIELDS = (
    ("issuer", "Name of Issuer"),
    ("cusip", "CUSIP"),
    ("shares_str", "Number of Shares"),
    ("value_str", "Value (USD)"),
    ("pct_str", "Pct of Net Assets"),
)


def parse_filing_document(html: str) -> tuple[str | None, list[dict], str | None]:
    """(reporting_date, holding rows, error) for one filing document.

    Anchored walk, mirroring the reference's extraction semantics
    (ETFQuarterlyHoldingsExtractor.py:67-130): the first NPORT-P header
    anchors the reporting-date table (first match wins); each
    'Portfolio investment' section yields ≤1 row with ≤4 null-tolerant
    fields; a row with no extracted field is dropped; a filing with no
    reporting date fails as a unit.
    """
    try:
        tb = _parse_dom(html)
    except Exception as exc:  # malformed beyond recovery
        return None, [], f"parse_error: {exc}"

    reporting_date: str | None = None
    for h4 in _find_all(tb, "h4", contains="NPORT-P"):
        table = _find_next(tb, h4, "table")
        if table is not None:
            cell = _cell_after_label(table, "Reporting date")
            if cell:
                reporting_date = cell
                break  # first match wins (:77)
    if reporting_date is None:
        return None, [], "missing_reporting_date"

    rows: list[dict] = []
    for h1 in _find_all(tb, "h1", contains="Portfolio investment"):
        table = _find_next(tb, h1, "table")
        if table is None:
            continue
        row = {
            out: _cell_after_label(table, label) for out, label in _HOLDING_FIELDS
        }
        if any(v is not None for v in row.values()):  # drop-empty (:129-130)
            rows.append(row)
    return reporting_date, rows, None


# ---------------------------------------------------------------------------
# The distributed stage.
# ---------------------------------------------------------------------------
_OUT_COLS = [
    "filing_id",
    "filing_seq",
    "reporting_date",
    "issuer",
    "cusip",
    "shares_str",
    "value_str",
    "pct_str",
    "error",
]


def parse_filings(filings: DataFrame) -> DataFrame:
    """Document → rows UDTF over a filing index.

    Input: one row per filing with ``filing_id`` (bigint),
    ``filing_seq`` (int) and the document text in ``html``.
    Output: PARSE_SCHEMA — one row per extracted holding, or exactly
    one error row per failed filing (error non-null, fields null).

    Implementation: ``mapInPandas`` — Arrow batches in, pandas out,
    pure per-document work with no cross-document state, so the stage
    is embarrassingly parallel. The index is explicitly repartitioned
    by filing_id to the cluster's parallelism first: upstream plans
    tend to end in FEW large partitions (an aggregate assembling
    documents coalesces under AQE by bytes), which would serialize the
    expensive Python stage onto one task — the distributed-systems
    version of the reference's sequential loop (:153-158). The pinned
    partition count is deliberately exempt from AQE coalescing.
    """
    n_tasks = filings.sparkSession.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for fid, seq, html in zip(
                pdf["filing_id"], pdf["filing_seq"], pdf["html"]
            ):
                date, rows, err = parse_filing_document(html)
                if err is not None:
                    out.append((fid, seq, None, None, None, None, None, None, err))
                    continue
                for r in rows:
                    out.append(
                        (
                            fid,
                            seq,
                            date,
                            r["issuer"],
                            r["cusip"],
                            r["shares_str"],
                            r["value_str"],
                            r["pct_str"],
                            None,
                        )
                    )
            yield pd.DataFrame(out, columns=_OUT_COLS)

    return (
        filings.select("filing_id", "filing_seq", "html")
        .repartition(n_tasks, "filing_id")
        .mapInPandas(gen, schema=PARSE_SCHEMA)
    )

"""HTML table extraction (E20) — headers + rows matrices.

Port of the reference's table extractor
(``/root/reference/crates/riptide-extraction/src/dom_utils.rs:171-270``):

* modes: all / with-headers (``table:has(th|thead)``) / by-selector /
  min-size filter;
* headers from ``thead th`` plus ``th`` cells of a first-child ``tr``
  (the ``tr:first-child th`` arm, resolved structurally — positional
  pseudo-classes are outside the pinned selector subset);
* rows from ``tbody tr`` when an explicit tbody exists (all emitted),
  else every ``tr`` outside thead/tfoot, skipping a th-bearing row only
  at row index 0 once headers exist (extractor.rs:222-276 — a mid-table
  th row IS a body row); cells = ``td, th`` text trimmed;
* rowspan/colspan grid expansion
  (``table_extraction/extractor.rs:328-366``): the reference records each
  cell's ``column_index`` (advanced by ``colspan``) plus the ``spans_over``
  (row, col) positions the cell covers; re-expressed on the row matrices as
  the standard HTML grid algorithm — a cell's content is replicated into
  every (row, col) slot it spans, so a ``colspan=2`` cell yields two equal
  columns and a ``rowspan=2`` cell reappears in the same column of the next
  row;
* caption + the table element's attributes as metadata.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..html import dom


@dataclass
class TableData:
    headers: list[str] = field(default_factory=list)
    rows: list[list[str]] = field(default_factory=list)
    caption: str | None = None
    metadata: dict[str, str] = field(default_factory=dict)


def _span_attr(el: dom.Element, name: str) -> int:
    """colspan/rowspan parse: ``attr.parse().unwrap_or(1)`` (extractor.rs:
    323-331), clamped to ≥1 (colspan=0 would stall the grid cursor)."""
    raw = el.attrs.get(name)
    if raw is None:
        return 1
    try:
        return max(int(raw.strip()), 1)
    except (TypeError, ValueError):
        return 1


def _extract_single_table(table: dom.Element) -> TableData:
    data = TableData(metadata=dict(table.attrs))

    caption = dom.query_selector(table, "caption")
    if caption is not None:
        data.caption = caption.inner_text().strip()

    # Headers mirror extract_multi_level_headers (extractor.rs:431-482):
    # with ANY `thead tr` present the reference never consults other rows
    # (so a tbody's leading th row stays a body row), takes ALL cells of
    # the thead row — td cells included — and for a multi-row thead the
    # LAST row becomes the main headers (build_hierarchical_header_
    # structure, extractor.rs:503-512; earlier rows are sub-header levels
    # this flat repr drops). Only a thead-less table falls back to
    # extract_fallback_headers (extractor.rs:464-482): the FIRST
    # first-child <tr> in document order, all of whose cells become
    # headers iff it bears at least one th.
    headers: list[dom.Element] = []
    thead_rows = list(dom.query_selector_all(table, "thead tr"))
    if thead_rows:
        headers = list(dom.query_selector_all(thead_rows[-1], "td, th"))
    else:
        # A first-child <tr> directly follows its parent in document order.
        first_row = next(
            (tr for tr in dom.query_selector_all(table, "tr") if tr.pos == tr.parent.pos + 1),
            None,
        )
        if first_row is not None and dom.query_selector(first_row, "th") is not None:
            headers = list(dom.query_selector_all(first_row, "td, th"))
    # Header colspan expansion: a th spanning c columns labels c columns.
    data.headers = []
    for h in headers:
        data.headers.extend([h.inner_text().strip()] * _span_attr(h, "colspan"))

    # Body-row selection mirrors extract_table_sections (extractor.rs:
    # 222-276) exactly: with an explicit <tbody>, its rows are ALL body
    # rows (even th-bearing ones — no skip arm in that branch); without
    # one, every <tr> outside thead/tfoot is a body row EXCEPT a
    # th-bearing row at row_index 0 when headers were already extracted
    # (extractor.rs:256-263 — the skip applies ONLY at index 0; a
    # mid-table th row is emitted as a body row). Round 3 skipped every
    # th-bearing row, a divergence ADVICE r3 flagged; fixed to parity.
    tbody_rows = dom.query_selector_all(table, "tbody tr")
    if tbody_rows:
        body_trs = tbody_rows
        skip_first_th = False
    else:
        body_trs = [
            tr
            for tr in dom.query_selector_all(table, "tr")
            if not _in_section(tr, "thead") and not _in_section(tr, "tfoot")
        ]
        skip_first_th = bool(data.headers)

    # Grid span expansion. ``pending`` holds (row, col) → content for
    # slots covered by a rowspan from an earlier row — the reference's
    # ``spans_over`` position list (extractor.rs:347-358) materialized
    # into the matrix. Keys use the reference's row_index (every body-
    # position <tr> advances it, emitted or not): a rowspan spanning the
    # skipped index-0 header row covers that row, whose slots are drained
    # without being emitted (ADVICE r2).
    pending: dict[tuple[int, int], str] = {}
    rp = 0  # reference row_index (body-position rows)
    for tr in body_trs:
        if (
            skip_first_th
            and rp == 0
            and dom.query_selector(tr, "th") is not None
        ):
            # extractor.rs:256-263: consume coverage, advance the index.
            for key in [k for k in pending if k[0] == rp]:
                pending.pop(key)
            rp += 1
            continue
        row_out: list[str] = []
        col = 0

        def _fill_pending() -> None:
            nonlocal col
            while (rp, col) in pending:
                row_out.append(pending.pop((rp, col)))
                col += 1

        _fill_pending()
        for cell in dom.query_selector_all(tr, "td, th"):
            _fill_pending()
            content = cell.inner_text().strip()
            colspan = _span_attr(cell, "colspan")
            rowspan = _span_attr(cell, "rowspan")
            row_out.extend([content] * colspan)
            for ri in range(1, rowspan):
                for ci in range(colspan):
                    pending[(rp + ri, col + ci)] = content
            # column_index += colspan (extractor.rs:373)
            col += colspan
        _fill_pending()
        if row_out:
            data.rows.append(row_out)
        rp += 1
    return data


def _in_section(el: dom.Element, section_tag: str) -> bool:
    """is_in_section (extractor.rs:~280): any ancestor with the given tag."""
    node = el.parent
    while node is not None:
        if node.tag == section_tag:
            return True
        node = node.parent
    return False


def extract_tables(
    html: str,
    mode: str = "all",
    selector: str | None = None,
    min_rows: int = 0,
    min_cols: int = 0,
) -> list[TableData]:
    """mode ∈ {"all", "with_headers", "by_selector", "min_size"}."""
    root = dom.parse(html)
    if mode == "by_selector" and selector:
        candidates = dom.query_selector_all(root, selector)
    else:
        candidates = dom.query_selector_all(root, "table")

    out: list[TableData] = []
    for table in candidates:
        if mode == "with_headers" and dom.query_selector(table, "th, thead") is None:
            continue
        data = _extract_single_table(table)
        if mode == "min_size":
            if len(data.rows) < min_rows:
                continue
            if any(len(row) < min_cols for row in data.rows):
                continue
        out.append(data)
    return out

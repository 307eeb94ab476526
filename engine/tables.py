"""HTML-table parsing (F10-F13 — SURVEY.md §2.8) as pure Column expressions.

The reference parses OCR'd ``<table>`` HTML with BeautifulSoup
(/root/reference/app/core/parsers/table_parser.py:66-255); here the tokenizer
is ``regexp_extract_all`` (the OCR contract emits simple well-formed tables —
no nesting, no attributes that matter), so the whole layer stays JVM-side in
whole-stage codegen.  Three modes, dispatched on column count like the
reference (table_parser.py:187-210):

- KEYS_11 / KEYS_10 / KEYS_8 positional service-table mappings;
- janzour 4-column footer: the ``الصافي`` row → net_total_amount/paid/amount_due
  (table_parser.py:147-181);
- section rows: exactly one non-empty cell, Arabic, no digits
  (table_parser.py:10-23), associated to following items by a running
  last-non-null marker over the document's rows (find_section_for_table,
  table_parser.py:26-48; ``parse.extract_sections``).

Every parser returns one Column per row, so a document's tables parse
inside one projection — no explode, window, aggregation or join.

Column-position mappings are this engine's documented contract (the
reference's exact Arabic header orders are prompt-induced and model-dependent;
fixtures use the same contract so goldens are exact).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from engine.textops import ARABIC_RE

_TR_RE = "(?s)<tr[^>]*>(.*?)</tr>"
_TD_RE = "(?s)<t[dh][^>]*>(.*?)</t[dh]>"

# Positional keys per column count — item fields in ITEM_STRUCT order names.
KEYS_11 = [
    "code",
    "service_description_ar",
    "service_description_en",
    "date",
    "time",
    "unit_price",
    "quantity",
    "company_price",
    "patient_price",
    "net_price",
    "amount",
]
KEYS_10 = [k for k in KEYS_11 if k != "time"]
KEYS_8 = [
    "code",
    "service_description_ar",
    "date",
    "unit_price",
    "quantity",
    "company_price",
    "patient_price",
    "amount",
]

SUBTOTAL_LIT = "الإجمالي"
NET_LIT = "الصافي"
GRAND_TOTAL_LIT = "المبلغ الإجمالي"


def let(value: Column, build) -> Column:
    """``build(value)`` with ``value`` LET-BOUND: evaluated once per row as
    the lambda argument of a single-element array + transform.  Catalyst
    does not CSE subexpressions inside when-branches or lambda bodies, so
    an expression referenced n times there would otherwise run n times."""
    return F.element_at(F.transform(F.array(value), build), 1)


def html_rows(html: Column) -> Column:
    """<table> html → array<array<string>> of trimmed cell texts per row."""
    rows = F.regexp_extract_all(html, F.lit(_TR_RE), 1)
    # NB: the inner callable must be unary — transform() passes (element,
    # index) to binary callables, so a bare F.trim would receive the INDEX as
    # its trim-characters argument and eat digits.
    return F.transform(
        rows,
        lambda r: F.transform(
            F.regexp_extract_all(r, F.lit(_TD_RE), 1), lambda c: F.trim(c)
        ),
    )


def flatten_table_lines(html: Column) -> Column:
    """F13 — header-table flatten: each <tr> becomes one 'cell cell …' line
    (extract_plain_from_header_table, table_parser.py:51-63)."""
    return F.filter(
        F.transform(html_rows(html), lambda cells: F.array_join(cells, " ")),
        lambda line: line != "",
    )


def is_section_row(cells: Column) -> Column:
    """F10 — exactly one non-empty cell, Arabic, no digits (table_parser.py:10-23)."""
    non_empty = F.filter(cells, lambda c: c != "")
    joined = F.array_join(cells, " ")
    return (
        (F.size(non_empty) == 1)
        & joined.rlike(ARABIC_RE)
        & ~joined.rlike(r"\d")
    )


def _row_has(cells: Column, lit: str) -> Column:
    return F.exists(cells, lambda c: c.contains(lit))


def parse_janzour_footer(html: Column) -> Column:
    """4-column footer table: the row containing الصافي carries
    [label, net_total, paid, amount_due] (table_parser.py:147-181).
    Returns struct(net_total_amount, paid, amount_due) — nulls when absent."""

    def build(net_rows: Column) -> Column:
        # LET-BOUND net_rows: the naive form re-ran html_rows + filter for
        # every picked field (no CSE inside when-branches)
        row = F.try_element_at(net_rows, F.lit(1))
        # try_element_at: a short الصافي row (< 4 cells) yields nulls instead
        # of aborting the job under ANSI mode (X3/J5 failure isolation — one
        # malformed table must never fail the stage).
        pick = lambda i: F.try_element_at(row, F.lit(i))  # noqa: E731
        empty = F.lit(None).cast("string")
        return F.when(
            F.size(net_rows) > 0,
            F.struct(
                pick(2).alias("net_total_amount"),
                pick(3).alias("paid"),
                pick(4).alias("amount_due"),
            ),
        ).otherwise(
            F.struct(
                empty.alias("net_total_amount"), empty.alias("paid"), empty.alias("amount_due")
            )
        )

    net_rows = F.filter(
        html_rows(html), lambda r: F.exists(r, lambda c: c.contains(NET_LIT))
    )
    return let(net_rows, build)


def _pad(cells: Column, n: int) -> Column:
    """Pad/trim a cell row to exactly n cells (table_parser.py:221-224)."""
    padded = F.concat(cells, F.array_repeat(F.lit(""), n))
    return F.slice(padded, 1, n)


def _item_struct(cells: Column, keys: list[str]) -> Column:
    """Positional mapping → full ITEM_STRUCT (missing keys → null).

    The padded row is LET-BOUND (:func:`let`) so the
    concat/array_repeat/slice chain evaluates once per row, not once per
    field — Catalyst does not CSE subexpressions inside when-branches, and
    the naive form materializes the padded array ~11× per row (measured
    3.81 → 2.18 s on the end-to-end table-parse query at sf0.1/32c)."""
    from engine.schema import ITEM_STRUCT

    def build(padded: Column) -> Column:
        fields = []
        for f in ITEM_STRUCT.fieldNames():
            if f in keys:
                fields.append(F.element_at(padded, keys.index(f) + 1).alias(f))
            else:
                fields.append(F.lit(None).cast("string").alias(f))
        return F.struct(*fields)

    return let(_pad(cells, len(keys)), build)


def parse_service_rows(html: Column) -> Column:
    """Service table → array<struct(section_marker, item)> in row order.

    Row classes (first-match-wins, mirroring table_parser.py:119-122,187-247):
      header row (row 1)                  → dropped
      section row (F10)                   → section_marker = its text
      subtotal row (contains الإجمالي)     → dropped
      rows with empty code (first cell)   → dropped (table_parser.py:247)
      else                                → item via KEYS_{8,10,11} by col count
    Unknown column counts yield no items (reference raises; we null out and
    let lineage record it).
    """
    rows = F.slice(html_rows(html), 2, 100000)  # drop header row
    ncols = lambda r: F.size(r)  # noqa: E731

    def classify(r: Column) -> Column:
        section_text = F.trim(F.array_join(F.filter(r, lambda c: c != ""), " "))
        item = (
            F.when(ncols(r) == 11, _item_struct(r, KEYS_11))
            .when(ncols(r) == 10, _item_struct(r, KEYS_10))
            .when(ncols(r) == 8, _item_struct(r, KEYS_8))
            .otherwise(F.lit(None))
        )
        return (
            F.when(
                is_section_row(r),
                F.struct(
                    section_text.alias("section_marker"),
                    F.lit(None).cast(item_type()).alias("item"),
                ),
            )
            .when(_row_has(r, SUBTOTAL_LIT), F.lit(None))
            # empty first cell OR a <tr> with no cells at all (try_element_at
            # → null → '') — both drop, never abort (ANSI-safe)
            .when(F.coalesce(F.try_element_at(r, F.lit(1)), F.lit("")) == "", F.lit(None))
            .otherwise(
                F.struct(F.lit(None).cast("string").alias("section_marker"), item.alias("item"))
            )
        )

    return F.filter(F.transform(rows, classify), lambda x: x.isNotNull())


def item_type() -> str:
    from engine.schema import ITEM_STRUCT

    return ITEM_STRUCT.simpleString()


# Invoice-mode Arabic header → item-field mapping (F12 invoice mode,
# table_parser.py:103-110): columns are located BY HEADER NAME, not position.
INVOICE_HEADER_KEYS: dict[str, str] = {
    "الكود": "code",
    "الخدمة": "service_description_ar",
    "الوصف": "service_description_ar",
    "التاريخ": "date",
    "الوقت": "time",
    "السعر": "unit_price",
    "سعر الوحدة": "unit_price",
    "الكمية": "quantity",
    "الشركة": "company_price",
    "المريض": "patient_price",
    "الصافي": "net_price",
    "القيمة": "amount",
    "المبلغ": "amount",
}


def parse_invoice_table(html: Column) -> Column:
    """Invoice-mode table → array<ITEM_STRUCT>: the header row's Arabic cell
    names decide which field each column feeds (order-independent, unlike the
    positional KEYS_N janzour mapping).  Rows that are section rows, contain
    الإجمالي, or span columns (fewer cells than the header — the colspan-skip
    rule, table_parser.py:119-122) are dropped.
    """
    # LET-BIND the tokenized rows (:func:`let`): every `header` reference below would otherwise re-run
    # the full html_rows regexp tokenization — once per array_position call,
    # per field, per row.
    return let(html_rows(html), _invoice_items)


def _invoice_items(rows: Column) -> Column:
    from engine.schema import ITEM_STRUCT

    header = F.element_at(rows, 1)
    data = F.slice(rows, 2, 100000)

    def field_from_header(row: Column, field: str) -> Column:
        """Value of `field` = cell at the first header position whose name
        maps to it (null when the header lacks such a column)."""
        out = F.lit(None).cast("string")
        # later aliases lose to earlier ones: fold right-to-left
        for name, key in reversed(list(INVOICE_HEADER_KEYS.items())):
            if key != field:
                continue
            pos = F.array_position(header, name)
            # pos == 0 (label absent) must not reach element_at — ANSI raises
            # INVALID_INDEX_OF_ZERO; try_element_at covers short rows.
            out = F.when(pos > 0, F.try_element_at(row, pos.cast("int"))).otherwise(out)
        return out

    def to_item(row: Column) -> Column:
        return F.struct(
            *[field_from_header(row, f).alias(f) for f in ITEM_STRUCT.fieldNames()]
        )

    code_pos = F.array_position(header, "الكود")
    keep = lambda r: (  # noqa: E731
        (F.size(r) >= F.size(header))
        & ~is_section_row(r)
        & ~_row_has(r, SUBTOTAL_LIT)
        # header without a الكود column → keep nothing (the reference's
        # invoice tables always carry it; rows lacking a code are dropped,
        # table_parser.py:247) — and never feed index 0 to element_at.
        & F.when(
            code_pos > 0,
            F.coalesce(F.try_element_at(r, code_pos.cast("int")), F.lit("")) != "",
        ).otherwise(F.lit(False))
    )
    return F.transform(F.filter(data, keep), to_item)


def parse_section_subtotal(html: Column) -> Column:
    """Last الإجمالي row's last non-empty numeric-ish cell — the section
    subtotal (janzour tables end with an الإجمالي row)."""

    def build(sub_rows: Column) -> Column:
        # LET-BOUND sub_rows (naive form re-tokenized per reference)
        last = F.try_element_at(sub_rows, F.lit(-1))
        vals = F.filter(last, lambda c: (c != "") & ~c.contains(SUBTOTAL_LIT))
        # try_element_at: an الإجمالي row whose only non-empty cell IS the
        # label leaves vals empty — null subtotal, not an ANSI abort.
        return F.when(F.size(sub_rows) > 0, F.try_element_at(vals, F.lit(-1))).otherwise(
            F.lit(None).cast("string")
        )

    sub_rows = F.filter(html_rows(html), lambda r: _row_has(r, SUBTOTAL_LIT))
    return let(sub_rows, build)

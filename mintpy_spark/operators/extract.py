"""HTML -> text extraction (the byte-identity invariant of the engine).

The reference's analog is the prep/load layer that recovers the canonical
observable from raw processor products without altering values
(reference: src/mintpy/load_data.py:802 ingest normalization;
utils/readfile.py:319-388 exact-dtype scan). Here the raw observable is the
crawl payload: ``pages.html`` is an opaque ``binary`` column that embeds
the page text between ``<body>``...``</body>`` markers, surrounded by
arbitrary (possibly non-UTF8) bytes. ``extract_text`` must recover the text
**byte-for-byte** (`BASELINE.json` input_hint: "byte-identical extracted
text per url").

Execution model: ``extract_text`` is pure Catalyst expressions on the
payload's bytes. The payload is viewed as a string without copying it, the
markers are located on that view and measured in bytes, the body is cut as
a binary slice and decoded (malformed UTF-8 -> U+FFFD) only when it is not
valid UTF-8. Nothing but the body is ever converted, and everything stays
inside whole-stage codegen: no bytes cross the JVM/Python boundary. The
tests hold two independent twins it must match byte for byte: a
whole-payload decode in SQL and a Python ``bytes.find`` extractor.

At 100 TB this is the one stage that must touch every payload byte, so it
is embarrassingly parallel by design: no shuffle, runs at scan parallelism,
and the output projection drops ``html`` immediately so only extracted
text flows onward.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BODY_OPEN = b"<body>"
BODY_CLOSE = b"</body>"


def extract_text(
    pages: DataFrame,
    html_col: str = "html",
    out_col: str = "extracted_text",
    keep_html: bool = False,
) -> DataFrame:
    """pages -> pages + ``out_col`` via JVM-side expressions (default,
    whole-stage-codegen path). NULL on malformed payloads — the
    reference's no-data convention (unreadable -> NaN, readfile.py nodata
    remap): one bad crawl record cannot kill a 100 TB scan.

    Works on the payload's bytes; only the body is ever decoded:

        view = cast(html as string)     -- wraps the bytes, no copy/check
        lp   = octet_length(text before the FIRST <body> in view)
        lt   = octet_length(text after  the LAST  </body> in view)
        ls   = octet_length(html)
        body = substring(html, lp + 7, ls - lp - lt - 13)   -- binary
        text = cast(body as string)   if is_valid_utf8(body)
               decode(body, 'UTF-8')  otherwise (malformed -> U+FFFD)

    A marker is absent exactly when its ``substring_index`` returns the
    whole view (``lp == ls`` / ``lt == ls``). The output equals a decode of
    the whole payload followed by the same cut: the markers are ASCII, a
    malformed sequence never swallows a following ASCII byte and U+FFFD
    holds no ASCII byte, so the markers sit at the same places in the raw
    and the decoded payload; valid UTF-8 decodes to itself. The invalid
    branch needs ``spark.sql.legacy.codingErrorAction=true``
    (``session.RUNTIME_SQL_CONF``) to replace rather than raise.

    The offsets and the body are staged through separate projections on
    purpose: each is referenced several times downstream, and staging
    keeps CollapseProject from inlining (= re-evaluating) the
    payload-width marker scans.
    """
    cols = [c for c in pages.columns if keep_html or c != html_col]
    html = F.col(html_col)
    view = html.cast("string")
    staged = (
        pages.withColumn("_x_lp", F.octet_length(F.substring_index(view, BODY_OPEN.decode(), 1)))
        .withColumn("_x_lt", F.octet_length(F.substring_index(view, BODY_CLOSE.decode(), -1)))
        .withColumn("_x_ls", F.octet_length(html))
    )
    lp, lt, ls = F.col("_x_lp"), F.col("_x_lt"), F.col("_x_ls")
    body_len = ls - lp - lt - F.lit(len(BODY_OPEN) + len(BODY_CLOSE))
    ok = (lp < ls) & (lt < ls) & (body_len >= 0)
    body = F.col("_x_b")
    text = F.when(F.is_valid_utf8(body), body.cast("string")).otherwise(F.decode(body, "UTF-8"))
    return staged.withColumn(
        "_x_b", F.when(ok, F.substring(html, lp + F.lit(len(BODY_OPEN) + 1), body_len))
    ).select(*cols, text.alias(out_col))

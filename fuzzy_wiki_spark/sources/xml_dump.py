"""MediaWiki XML dump ingestion (reference O1).

Reference parity: Parser/XMLparser.py:6-13 — stream ``<page>`` elements
from a dump, take the FIRST revision, strip wiki markup
(mwparserfromhell.strip_code), emit {id, title, text}; pages with no
revisions are skipped. This module reproduces that workflow
Spark-first:

- the dump reads through Spark's NATIVE XML source
  (``spark.read.format("xml")``, built into Spark 4) with
  ``rowTag=page`` — the reader splits one large dump file across tasks
  by row tag, so a multi-hundred-GB dump parallelizes without any
  driver-side streaming (the reference fans out with
  multiprocessing; here the scheduler owns that);
- first-revision selection is ``revision[0]`` on the parsed array
  (element order is preserved by the reader — pinned in
  tests/test_xml_dump.py); a single-revision dump, which the reader
  parses as a struct, is wrapped into a one-element array first;
- markup stripping is a chain of JVM-side ``regexp_replace`` Columns —
  whole-stage-codegen scan speed, zero Python in the path. The strip
  subset mirrors strip_code's visible behavior: HTML comments,
  ``{{templates}}`` (nested to depth ``TEMPLATE_DEPTH`` by iterated
  innermost-first removal — regexes can't recurse, so depth is a
  documented bound), ``<ref>`` bodies and self-closing refs, remaining
  HTML tags, ``[[target|label]]``/``[[target]]`` wiki links (keep
  label, else target), ``[url label]`` external links (keep label),
  bold/italic quote runs, and ``==`` heading markers (keep the
  heading text).

Output schema: (page_id long, title string, text string) — the same
triple the reference writes to JSONL; feed it to
``sources.catalog``-style sinks or straight into the index build.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

TEMPLATE_DEPTH = 4
"""Maximum template nesting removed by the iterated innermost-first
pass; real dumps rarely nest deeper, and a deeper artifact degrades to
leftover braces rather than wrong text."""


def strip_wiki_markup(col: Column) -> Column:
    """mwparserfromhell.strip_code-style markup removal as a pure
    Column expression chain (see module docstring for the pinned
    subset)."""
    out = F.regexp_replace(col, r"(?s)<!--.*?-->", "")
    # innermost-first template removal, iterated for nesting
    for _ in range(TEMPLATE_DEPTH):
        out = F.regexp_replace(out, r"(?s)\{\{[^{}]*\}\}", "")
    out = F.regexp_replace(out, r"(?s)<ref[^>/]*>.*?</ref>", "")
    out = F.regexp_replace(out, r"<ref[^>]*/>", "")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", "")
    # [[target|label]] → label; [[target]] → target
    out = F.regexp_replace(out, r"\[\[[^\[\]|]*\|([^\[\]]*)\]\]", r"$1")
    out = F.regexp_replace(out, r"\[\[([^\[\]]*)\]\]", r"$1")
    # [http://url label] → label
    out = F.regexp_replace(out, r"\[\S+\s+([^\[\]]*)\]", r"$1")
    # bold/italic quote runs
    out = F.regexp_replace(out, r"'{2,}", "")
    # == Heading == → Heading
    out = F.regexp_replace(out, r"(?m)^=+\s*(.*?)\s*=+\s*$", r"$1")
    return out


def read_mediawiki_dump(
    spark: SparkSession, path: str, strip_markup: bool = True
) -> DataFrame:
    """Dump file(s) → (page_id, title, text): one row per page that has
    at least one revision, text from the FIRST revision, markup
    stripped unless ``strip_markup=False`` (raw wikitext passthrough).

    ``page_id`` follows the reference (XMLparser.py yields
    ``first_rev.id`` — the REVISION id — as "id"); the page-level id is
    kept as ``wiki_page_id`` for callers that want the page key.
    """
    pages = spark.read.format("xml").option("rowTag", "page").load(path)
    # the reader infers a struct, not an array, when every page has one
    # <revision> (a real pages-articles dump), and a struct<_VALUE, ...>
    # text when <text> carries attributes (bytes, xml:space)
    rev_type = pages.schema["revision"].dataType
    revision = F.col("revision")
    if isinstance(rev_type, ArrayType):
        rev_type = rev_type.elementType
    else:
        revision = F.when(revision.isNotNull(), F.array(revision))
    pages = pages.where(F.size(revision) >= 1)
    first = revision[0]
    text = first["text"]
    if isinstance(rev_type["text"].dataType, StructType):
        text = text["_VALUE"]
    if strip_markup:
        text = strip_wiki_markup(text)
    return pages.select(
        first["id"].cast("long").alias("page_id"),
        F.col("id").cast("long").alias("wiki_page_id"),
        F.col("title").cast("string").alias("title"),
        text.cast("string").alias("text"),
    )

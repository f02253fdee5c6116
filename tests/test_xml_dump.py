"""MediaWiki XML dump ingestion (sources/xml_dump.py) vs the reference
workflow's semantics (Parser/XMLparser.py:6-13): first revision,
markup-stripped text, revision-less pages skipped."""

from fuzzy_wiki_spark.sources.xml_dump import (
    read_mediawiki_dump,
    strip_wiki_markup,
)

DUMP = """<mediawiki>
<page><title>Alpha</title><id>1</id>
  <revision><id>101</id><text>{{Infobox|x=1}}'''Alpha''' is a
[[thing|concept]] with a &lt;b&gt;tag&lt;/b&gt;.&lt;ref&gt;cite&lt;/ref&gt;
== See also ==
* [[Beta]]</text></revision>
  <revision><id>102</id><text>VANDALIZED</text></revision>
</page>
<page><title>Empty</title><id>2</id></page>
<page><title>Gamma</title><id>3</id>
  <revision><id>301</id><text>plain {{a{{b}}c}} text [http://x.org link]</text></revision>
</page>
</mediawiki>"""


def _write(tmp_path):
    p = tmp_path / "dump.xml"
    p.write_text(DUMP)
    return str(p)


def test_first_revision_and_skip_empty(spark, tmp_path):
    out = {
        r.page_id: r
        for r in read_mediawiki_dump(
            spark, _write(tmp_path), strip_markup=False
        ).collect()
    }
    # revision ids (the reference's "id"), not page ids; Empty skipped
    assert set(out) == {101, 301}
    assert out[101].title == "Alpha" and out[101].wiki_page_id == 1
    assert "VANDALIZED" not in out[101].text
    assert out[101].text.startswith("{{Infobox")


def test_markup_strip(spark, tmp_path):
    out = {
        r.page_id: r.text
        for r in read_mediawiki_dump(spark, _write(tmp_path)).collect()
    }
    a = out[101]
    assert "{{" not in a and "'''" not in a and "[[" not in a
    assert "concept" in a  # link label kept
    assert "cite" not in a  # ref body removed
    assert "tag" in a and "<b>" not in a  # tags removed, text kept
    assert "See also" in a and "==" not in a
    # nested template fully removed; external link label kept
    assert out[301] == "plain  text link"


def test_strip_column_cases(spark):
    rows = [
        ("a {{t|x={{u}}}} b", "a  b"),
        ("[[only]] and [[t|lbl]]", "only and lbl"),
        ("x<!-- hidden -->y", "xy"),
        ("pre<ref name=n>body</ref>post", "prepost"),
        ("self<ref name=n />close", "selfclose"),
        ("''it'' '''bold''' '''''both'''''", "it bold both"),
        ("== H2 ==", "H2"),
    ]
    df = spark.createDataFrame(rows, "raw string, want string")
    from pyspark.sql import functions as F

    got = df.select(
        strip_wiki_markup(F.col("raw")).alias("got"), "want"
    ).collect()
    for r in got:
        assert r.got == r.want, (r.got, r.want)


# a real pages-articles dump: one <revision> per page and attributes on
# <text>, so the reader infers revision as a struct and text as
# struct<_VALUE, _bytes, _xml:space>
SINGLE_REVISION_DUMP = """<mediawiki>
<page><title>Alpha</title><id>1</id>
  <revision><id>101</id><text bytes="36" xml:space="preserve">'''Alpha''' is a [[thing|concept]].</text></revision>
</page>
<page><title>Empty</title><id>2</id></page>
<page><title>Gamma</title><id>3</id>
  <revision><id>301</id><text bytes="16" xml:space="preserve">plain {{t}} text</text></revision>
</page>
</mediawiki>"""


def test_single_revision_dump_with_text_attributes(spark, tmp_path):
    p = tmp_path / "single.xml"
    p.write_text(SINGLE_REVISION_DUMP)
    out = {
        r.page_id: (r.wiki_page_id, r.title, r.text)
        for r in read_mediawiki_dump(spark, str(p)).collect()
    }
    assert out == {
        101: (1, "Alpha", "Alpha is a concept."),
        301: (3, "Gamma", "plain  text"),
    }

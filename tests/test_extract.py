"""Byte-identity contract: vectorized extraction == row-wise oracle.

Mirrors the reference's codec specs (logstash-codec-plain /
logstash-codec-json spec style: payload in → asserted fields out) and
enforces BASELINE.json.input_hint's per-row invariant.
"""

from __future__ import annotations

import contextlib
import io

from logstash_spark.datagen import gen_pages
from logstash_spark.extract import extract_text, extract_text_udf
from logstash_spark.stages.base import apply_stage

# Inputs gen_pages never produces: nulls, invalid UTF-8, NUL, exotic
# whitespace, odd tags and entities html.unescape treats specially.
ADVERSARIAL: list[bytes | None] = [
    None,
    b"",
    b"plain text no tags",
    b"<p>a&amp;lt;b</p>",                # single-pass unescape: stays &lt;
    b"<p>&AMP;amp;</p>",
    b"<p>&ampx &copy2026 &lt </p>",      # semicolon-less legacy names
    b"<p>&zzz; &#9999; &#x1F600; &#128;</p>",  # unknown / remapped refs
    b"<p>&amp;#38; &#38;amp;</p>",
    b"\xff\xfehello",                    # invalid UTF-8
    b"<p>\xe2\x82</p>",                  # truncated multi-byte sequence
    b"<SCRIPT>x</SCRIPT><P>Hi</P>",
    b"<script >a</script\t>b",
    b"<script=weird>x</script>ok",
    b"<div>a\x00b</div>",                # NUL
    b"<p>a  b\tc\r\nd</p>",
    b"<p>\xc2\xa0 padded \xc2\xa0</p>",  # U+00A0 is not collapsed
    b"<p>x\xc2\x85y\xe2\x80\xa8z</p>",    # U+0085, U+2028
    b"line1<br/>line2<BR>line3",
    b"<!-- multi\nline\ncomment --><p>kept</p>",
    b"<!DOCTYPE html PUBLIC 'x'><p>t</p>",
    b"<p title='a>b'>odd</p>",
    b"<pre>  spaced  </pre>",
    b"<param>notblock</param>",
    b"<scripts>notscript</scripts>",
    b"<p>&quot;q&quot; &apos;a&apos; &nbsp;nb</p>",
    b"<p>&#39;x&#x27;y&#X27;z</p>",
    b"<p>\xc3\xa9\xc3\xa8</p>",
    "<p>数据 ウェブ 🚀</p>".encode(),
    b"<noscript\x0b>weirdws</noscript>",
    b"<style>p{}</style",                # unclosed drop tag
    b"&lt;script&gt;alert()&lt;/script&gt;",
    b"<p>&eacute;&Eacute;</p>",
    b"<title>T</title>no body",
    b"<style>A<script>B</style>C</script>D",
    "<ſcript>fold</ſcript>x".encode(),   # U+017F case-folds to 's'
    b"<p>&#32;&#9;&#10;spaced</p>",
    b"<p>end &amp",
    b"b&#38;1a<title>1&#x27;<noscript><script>\xf0\x9f\x9a\x80--><script>"
    b"<!DOCTYPE html>&<script>\r\xc2\xa0<br/><!--<script><SCRIPT a=1>"
    b"&Eacute;&#38;<p><!--<!--</\xc5\xbfcript>&#38;</script>&#x27; </\xc5\xbfcript>",
]


def test_extract_semantics():
    html = (
        b"<!DOCTYPE html><html><head><title>T &amp; U</title>"
        b"<style>p{color:red}</style></head><body>"
        b"<!-- c --><p>hello <b>world</b></p><script>bad()</script>"
        b"<div>a  b\tc</div></body></html>"
    )
    assert extract_text(html) == "T & U\nhello world\na b c"


def test_extract_entities_and_unicode():
    assert extract_text(b"<p>&lt;tag&gt; &#x27;q&#x27; \xe6\x95\xb0\xe6\x8d\xae</p>") == "<tag> 'q' 数据"
    assert extract_text(None) is None
    assert extract_text(b"") == ""


def test_vectorized_matches_oracle_bytewise(spark):
    pages = gen_pages(spark, 200).cache()
    out = pages.withColumn("engine_text", extract_text_udf()(pages["html"]))
    rows = out.select("url", "html", "engine_text", "text").collect()
    assert len(rows) == 200
    mismatches = []
    for r in rows:
        oracle = extract_text(r["html"])
        if r["engine_text"] != oracle or r["engine_text"] != r["text"]:
            mismatches.append(r["url"])
        # byte-level check, not just str equality
        assert r["engine_text"].encode("utf-8") == oracle.encode("utf-8")
    assert not mismatches

    edge = spark.createDataFrame(list(enumerate(ADVERSARIAL)), "id long, html binary")
    got = edge.select("id", extract_text_udf()("html").alias("t")).collect()
    assert len(got) == len(ADVERSARIAL)
    for r in got:
        oracle = extract_text(ADVERSARIAL[r["id"]])
        assert (r["t"] is None) == (oracle is None), r["id"]
        if oracle is not None:
            assert r["t"].encode("utf-8") == oracle.encode("utf-8"), r["id"]

    # the stage plans exactly one Python UDF, named _extract (the name
    # perfbench finds it by), and no JVM regex lowering
    staged = apply_stage(pages.drop("text"), {"extract_text": {"source": "html"}})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        staged.explain()
    plan = buf.getvalue()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("_extract(") == 1, plan
    assert "regexp_replace" not in plan, plan


def test_generation_is_deterministic(spark):
    a = gen_pages(spark, 50, partitions=2).orderBy("url").collect()
    b = gen_pages(spark, 50, partitions=7).orderBy("url").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

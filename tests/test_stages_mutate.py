"""Mutate-family tests mirroring logstash-filter-mutate spec cases
(rename/convert/gsub/case/split/join/strip op-order semantics)."""

from __future__ import annotations

import pytest

from logstash_spark.stages import apply_stage


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "  Hello World  ", "42", "a-b-c", None),
            (2, "FOO bar", "x", "one", "keep"),
        ],
        "id int, message string, num string, csvish string, maybe string",
    )


def test_mutate_core_ops(df):
    out = apply_stage(
        df,
        {
            "mutate": {
                "strip": ["message"],
                "convert": {"num": "integer"},
                "gsub": ["csvish", "-", "_"],
                "lowercase": ["message"],
                "split": {"csvish": "_"},  # order: gsub runs before split
            }
        },
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].message == "hello world"
    assert rows[1].num == 42
    assert rows[2].num is None  # bad convert -> null, never a throw
    assert rows[1].csvish == ["a", "b", "c"]


def test_mutate_rename_replace_copy_coerce(df):
    out = apply_stage(
        df,
        {
            "mutate": {
                "coerce": {"maybe": "default"},
                "rename": {"num": "number"},
                "replace": {"message": "static-%{id}"},
                "copy": {"csvish": "csvish_copy"},
            }
        },
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].number == "42" and "num" not in out.columns
    assert rows[1].message == "static-1"
    assert rows[1].maybe == "default" and rows[2].maybe == "keep"
    assert rows[1].csvish_copy == "a-b-c"


def test_mutate_join_upper_capitalize(spark):
    df = spark.createDataFrame([(1, ["x", "y"], "word")], "id int, arr array<string>, w string")
    out = apply_stage(
        df, {"mutate": {"join": {"arr": ","}, "capitalize": ["w"]}}
    )
    r = out.collect()[0]
    assert r.arr == "x,y" and r.w == "Word"


def test_prune(spark):
    df = spark.createDataFrame([(1, "a", "b")], "id int, keep_me string, drop_me string")
    out = apply_stage(df, {"prune": {"whitelist_names": ["^id$", "^keep"]}})
    assert out.columns == ["id", "keep_me"]
    out2 = apply_stage(df, {"prune": {"blacklist_names": ["^drop"]}})
    assert out2.columns == ["id", "keep_me"]


def test_fingerprint_methods(spark):
    import hashlib

    df = spark.createDataFrame([(1, "hello")], "id int, message string")
    out = apply_stage(df, {"fingerprint": {"source": "message", "method": "SHA256"}})
    assert out.collect()[0].fingerprint == hashlib.sha256(b"hello").hexdigest()
    out = apply_stage(df, {"fingerprint": {"source": "message", "method": "MD5"}})
    assert out.collect()[0].fingerprint == hashlib.md5(b"hello").hexdigest()


def test_fingerprint_concat_sources(spark):
    import hashlib

    df = spark.createDataFrame(
        [(1, "a", "b"), (2, "a", None)], "id int, x string, y string")
    # concatenate_sources=true: fingerprint.rb hashes '|name|value|…|'
    # over SORTED sources, nil rendering empty
    out = apply_stage(df, {"fingerprint": {
        "source": ["y", "x"], "concatenate_sources": True, "method": "SHA1"}})
    rows = {r.id: r for r in out.collect()}
    assert rows[1].fingerprint == hashlib.sha1(b"|x|a|y|b|").hexdigest()
    assert rows[2].fingerprint == hashlib.sha1(b"|x|a|y||").hexdigest()
    # default (no concatenation): each present source sets the target in
    # sorted order — last PRESENT source wins
    out = apply_stage(df, {"fingerprint": {"source": ["y", "x"], "method": "SHA1"}})
    rows = {r.id: r for r in out.collect()}
    assert rows[1].fingerprint == hashlib.sha1(b"b").hexdigest()
    assert rows[2].fingerprint == hashlib.sha1(b"a").hexdigest()


def test_urldecode(spark):
    df = spark.createDataFrame([(1, "a%20b%2Fc")], "id int, message string")
    assert apply_stage(df, {"urldecode": {"field": "message"}}).collect()[0].message == "a b/c"


def test_truncate_bytes(spark):
    df = spark.createDataFrame([(1, "abcdef"), (2, "ab")], "id int, message string")
    out = apply_stage(df, {"truncate": {"fields": "message", "length_bytes": 4}})
    rows = {r.id: r for r in out.collect()}
    assert rows[1].message == "abcd" and rows[2].message == "ab"


def test_syslog_pri(spark):
    df = spark.createDataFrame([(1, "165")], "id int, syslog_pri string")
    r = apply_stage(df, {"syslog_pri": {}}).collect()[0]
    assert r.syslog_facility_code == 20 and r.syslog_facility == "local4"
    assert r.syslog_severity_code == 5 and r.syslog_severity == "notice"


def test_uuid_deterministic(spark):
    df = spark.createDataFrame([(1, "u1")], "id int, url string")
    a = apply_stage(df, {"uuid": {"deterministic_from": "url"}}).collect()[0].uuid
    b = apply_stage(df, {"uuid": {"deterministic_from": "url"}}).collect()[0].uuid
    assert a == b and len(a.split("-")) == 5


def test_ruby_vectorized_udf(spark):
    df = spark.createDataFrame([(1, "abc")], "id int, message string")
    out = apply_stage(
        df,
        {"ruby": {"code": lambda s: s.str.upper(), "source": "message", "target": "up"}},
    )
    assert out.collect()[0].up == "ABC"


def test_de_dot(spark):
    df = spark.createDataFrame([(1, "v")], ["id", "dotted.name"])
    assert "dotted_name" in apply_stage(df, {"de_dot": {}}).columns


def test_fingerprint_hmac_matches_stdlib(spark):
    """True RFC-2104 HMAC parity with Python's stdlib (the check a
    reference deployment would run against OpenSSL::HMAC digests)."""
    import hashlib
    import hmac

    df = spark.createDataFrame(
        [(1, "hello"), (2, "wörld ünïcode"), (3, None)], "id int, message string"
    )
    mods = {"SHA256": hashlib.sha256, "SHA1": hashlib.sha1,
            "MD5": hashlib.md5, "SHA512": hashlib.sha512}
    for method, mod in mods.items():
        out = {
            r.id: r.fingerprint
            for r in apply_stage(
                df, {"fingerprint": {"source": "message", "key": "k3y!",
                                     "method": method}}
            ).collect()
        }
        assert out[1] == hmac.new(b"k3y!", b"hello", mod).hexdigest()
        assert out[2] == hmac.new(b"k3y!", "wörld ünïcode".encode(), mod).hexdigest()
        assert out[3] is None
    # key longer than the 64-byte block → hashed-key path
    long_key = "K" * 100
    out = {
        r.id: r.fingerprint
        for r in apply_stage(
            df, {"fingerprint": {"source": "message", "key": long_key,
                                 "method": "SHA256"}}
        ).collect()
    }
    import hashlib as _h
    import hmac as _hm

    assert out[1] == _hm.new(long_key.encode(), b"hello", _h.sha256).hexdigest()


def test_truncate_utf8_boundary(spark):
    """Byte-true truncation backs up to a UTF-8 char boundary — never
    emits broken UTF-8, never throws under ANSI sessions."""
    s = "aé€😀xyz"  # widths: 1,2,3,4,1,1,1 bytes
    df = spark.createDataFrame([(1, s)], "id int, message string")
    for n, expected in [(3, "aé"), (4, "aé"), (5, "aé"), (6, "aé€"),
                        (7, "aé€"), (10, "aé€😀"), (13, s), (50, s)]:
        out = apply_stage(df, {"truncate": {"length_bytes": n}}).collect()[0]
        assert out.message == expected, (n, out.message, expected)
        assert len(out.message.encode()) <= n


def test_extractnumbers(spark):
    df = spark.createDataFrame(
        [(1, "took 42 ms, -3.5 retries, 0.25 ratio"), (2, "no digits here"), (3, None)],
        "id int, message string",
    )
    out = {r.id: r.extracted_numbers for r in
           apply_stage(df, {"extractnumbers": {}}).collect()}
    assert out[1] == [42.0, -3.5, 0.25]
    assert out[2] == []
    assert out[3] is None


def test_range_filter(spark):
    df = spark.createDataFrame(
        [(1, 50.0, "ok"), (2, 500.0, "toolongvalue"), (3, None, "x")],
        "id int, value double, name string",
    )
    out, m = __import__("logstash_spark.stages.base", fromlist=["build_stage"]).build_stage(
        {"range": {"ranges": [["value", 0, 100], ["name", 10, 99]]}}
    ).transform(df)
    got = {r["id"]: r["__matched"] for r in out.select("id", "__matched").collect()}
    assert got[1] is True          # value in [0,100]
    assert got[2] is True          # name length 12 in [10,99]
    assert got[3] in (False, None)  # null value, short name
    # drop action removes matching rows
    dropped = apply_stage(
        df, {"range": {"ranges": [["value", 0, 100]], "action": "drop"}}
    )
    assert sorted(r.id for r in dropped.collect()) == [2, 3]


def test_environment_stage(spark, monkeypatch):
    monkeypatch.setenv("LS_SPARK_TEST_ENV", "prod-7")
    df = spark.createDataFrame([(1,)], "id int")
    out = apply_stage(
        df, {"environment": {"add_field_from_env": {"deployment": "LS_SPARK_TEST_ENV",
                                                    "missing": "LS_SPARK_NOPE"}}}
    ).collect()[0]
    assert out.deployment == "prod-7" and out.missing is None


def test_i18n_transliterate(spark):
    """logstash-filter-i18n: accents fold to ASCII, unmapped chars drop
    (best-effort contract); unchanged rows are unmatched."""
    df = spark.createDataFrame(
        [(1, "héllo wörld", "café"), (2, "plain ascii", None)],
        "id int, a string, b string",
    )
    from logstash_spark.stages import apply_stage

    out = apply_stage(
        df, {"i18n": {"transliterate": ["a", "b"], "add_tag": ["folded"]}}
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].a == "hello world" and rows[1].b == "cafe"
    assert "folded" in rows[1].tags
    assert rows[2].a == "plain ascii" and rows[2].b is None
    assert "folded" not in (rows[2].tags or [])


def test_anonymize_in_place_hmac_matches_stdlib(spark):
    """anonymize (deprecated fingerprint alias): fields replaced IN
    PLACE with HMAC-<algorithm>, OpenSSL::HMAC parity via stdlib."""
    import hmac as _hmac

    df = spark.createDataFrame([(1, "alice", "10.1.2.3"), (2, None, None)],
                               "id int, user string, ip string")
    out = {r.id: r for r in apply_stage(
        df, {"anonymize": {"fields": ["user", "ip"], "key": "s3cret",
                           "algorithm": "SHA1"}}).collect()}
    exp = _hmac.new(b"s3cret", b"alice", "sha1").hexdigest()
    assert out[1].user == exp
    assert out[1].ip == _hmac.new(b"s3cret", b"10.1.2.3", "sha1").hexdigest()
    assert out[2].user is None and out[2].ip is None


def test_anonymize_sha384_and_murmur(spark):
    import hmac as _hmac

    df = spark.createDataFrame([(1, "x")], "id int, v string")
    out = apply_stage(df, {"anonymize": {
        "fields": "v", "key": "k", "algorithm": "SHA384"}}).collect()[0]
    assert out.v == _hmac.new(b"k", b"x", "sha384").hexdigest()
    out = apply_stage(df, {"anonymize": {
        "fields": "v", "algorithm": "MURMUR3"}}).collect()[0]
    assert out.v.lstrip("-").isdigit()


def test_anonymize_ipv4_network(spark):
    df = spark.createDataFrame(
        [(1, "192.168.37.201"), (2, "not-an-ip"), (3, None)],
        "id int, ip string")
    out = {r.id: r for r in apply_stage(
        df, {"anonymize": {"fields": ["ip"], "key": "24",
                           "algorithm": "IPV4_NETWORK"}}).collect()}
    assert out[1].ip == "192.168.37.0"
    assert out[2].ip is None and out[3].ip is None
    with pytest.raises(ValueError, match="prefix"):
        apply_stage(df, {"anonymize": {"fields": ["ip"], "key": "64",
                                       "algorithm": "IPV4_NETWORK"}})
    with pytest.raises(ValueError, match="key"):
        apply_stage(df, {"anonymize": {"fields": ["ip"]}})


def test_gsub_ruby_backrefs_and_dollar(spark):
    """mutate.rb gsub replacements are Ruby syntax: \\1 backrefs must
    swap groups (not emit literal '1') and a literal '$' must not throw
    Java's 'Illegal group reference'."""
    df = spark.createDataFrame([(1, "12-34", "x")], "id int, a string, b string")
    out = apply_stage(df, {"mutate": {"gsub": ["a", r"(\d+)-(\d+)", r"\2-\1"]}})
    assert out.collect()[0].a == "34-12"
    out = apply_stage(df, {"mutate": {"gsub": ["b", "x", "$$$"]}})
    assert out.collect()[0].b == "$$$"


def test_convert_boolean_dirty_value_nulls(spark):
    """convert => boolean on an unconvertible value yields null (the
    documented try_ deviation; a static column can't keep the original
    string) — and never throws."""
    df = spark.createDataFrame(
        [(1, "true"), (2, "enabled"), (3, "NO")], "id int, f string")
    out = apply_stage(df, {"mutate": {"convert": {"f": "boolean"}}})
    rows = {r.id: r.f for r in out.collect()}
    assert rows == {1: True, 2: None, 3: False}


# ---- nested add_field on existing structs (review round-5 finding) --------

def test_add_field_new_key_in_existing_struct(spark):
    """Adding a NEW key to an existing struct must not build a CASE WHEN
    with mismatched struct branch types (withField retypes the struct)."""
    df = spark.createDataFrame(
        [(1, ("x",))], "id int, a struct<b:string>")
    out = apply_stage(df, {"mutate": {"add_field": {"[a][c]": "v-%{id}"}}})
    row = out.collect()[0]
    assert row["a"]["b"] == "x"
    assert row["a"]["c"] == "v-1"


def test_add_field_creates_missing_intermediates(spark):
    """[a][x][y] with no intermediate x: the reference's Event#setField
    creates intermediate hashes — we create intermediate structs."""
    df = spark.createDataFrame(
        [(1, ("x",))], "id int, a struct<b:string>")
    out = apply_stage(df, {"mutate": {"add_field": {"[a][x][y]": "deep"}}})
    row = out.collect()[0]
    assert row["a"]["b"] == "x"
    assert row["a"]["x"]["y"] == "deep"


def test_add_field_overwrites_non_hash_intermediate(spark):
    """Ruby overwrites a non-hash intermediate with a hash on nested set."""
    df = spark.createDataFrame(
        [(1, ("x", "scalar"))], "id int, a struct<b:string,x:string>")
    out = apply_stage(df, {"mutate": {"add_field": {"[a][x][y]": "deep"}}})
    row = out.collect()[0]
    assert row["a"]["x"]["y"] == "deep"


def test_conditional_add_field_new_struct_key(spark):
    """Success-conditioned (grok matched) nested add of a NEW key: the
    otherwise branch must be type-matched; unmatched rows keep siblings
    and get a null new key."""
    df = spark.createDataFrame(
        [(1, "dur=15", ("k1",)), (2, "nope", ("k2",))],
        "id int, message string, meta struct<keep:string>")
    out = apply_stage(df, {
        "grok": {
            "match": {"message": "dur=%{INT:dur}"},
            "add_field": {"[meta][hit]": "y-%{id}"},
        }})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["meta"]["keep"] == "k1" and rows[1]["meta"]["hit"] == "y-1"
    assert rows[2]["meta"]["keep"] == "k2" and rows[2]["meta"]["hit"] is None


def test_conditional_add_field_existing_struct_key(spark):
    """Replacing an EXISTING nested key under a matched condition keeps
    the old value on unmatched rows."""
    df = spark.createDataFrame(
        [(1, "dur=15", ("old1",)), (2, "nope", ("old2",))],
        "id int, message string, meta struct<v:string>")
    out = apply_stage(df, {
        "grok": {
            "match": {"message": "dur=%{INT:dur}"},
            "add_field": {"[meta][v]": "new"},
        }})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["meta"]["v"] == "new"
    assert rows[2]["meta"]["v"] == "old2"


def test_fingerprint_concatenate_sources_single_source(spark):
    """fingerprint.rb applies '|name|value|' whenever
    concatenate_sources is set — even for ONE source (review finding:
    single-source was silently hashing the raw value)."""
    import hashlib

    df = spark.createDataFrame([("hello",)], "message string")
    out = apply_stage(df, {"fingerprint": {
        "source": ["message"], "concatenate_sources": True,
        "method": "SHA256"}})
    got = out.collect()[0]["fingerprint"]
    assert got == hashlib.sha256(b"|message|hello|").hexdigest()


def test_gsub_ruby_whole_match_backref(spark):
    """Ruby's \\& (whole match) must translate to Java's $0; the
    pre/post-match refs \\` \\' \\+ have no Java spelling → loud error."""
    import pytest as _pytest

    df = spark.createDataFrame([("ab",)], "f string")
    out = apply_stage(df, {"mutate": {"gsub": ["f", "a(b)", "<\\&>"]}})
    assert out.collect()[0]["f"] == "<ab>"
    with _pytest.raises(Exception, match="no Java regexp_replace"):
        apply_stage(df, {"mutate": {"gsub": ["f", "a", "\\`x"]}}).collect()


def test_conditional_nested_remove_field(spark):
    """Success-conditioned nested remove_field: a CASE over
    dropped-vs-original structs is two different struct types (analysis
    error, found in round-5 review). The lowering nulls the leaf in
    place: matched rows lose the value, unmatched keep it, siblings
    survive everywhere."""
    df = spark.createDataFrame(
        [(1, "dur=15", ("k1", "g1")), (2, "nope", ("k2", "g2"))],
        "id int, message string, meta struct<keep:string,gone:string>")
    out = apply_stage(df, {"grok": {
        "match": {"message": "dur=%{INT:dur}"},
        "remove_field": ["[meta][gone]"]}})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["meta"]["keep"] == "k1" and rows[1]["meta"]["gone"] is None
    assert rows[2]["meta"]["keep"] == "k2" and rows[2]["meta"]["gone"] == "g2"


def test_nested_remove_field_missing_path_noop(spark):
    """remove_field on a nested key that does not exist is a reference
    no-op — dropFields on a missing field would fail analysis."""
    df = spark.createDataFrame(
        [(1, "dur=15", ("k1",))],
        "id int, message string, meta struct<keep:string>")
    for spec in (
        {"mutate": {"remove_field": ["[meta][nope]", "[meta][a][b]"]}},
        {"grok": {"match": {"message": "dur=%{INT:dur}"},
                  "remove_field": ["[meta][nope]"]}},
    ):
        out = apply_stage(df, spec)
        assert out.collect()[0]["meta"]["keep"] == "k1"


# ---- nested field refs across mutate ops (round-5 review finding:
# field_name() collapsed [a][b] write targets to the whole top-level
# column, silently clobbering siblings) -------------------------------------

def test_mutate_replace_nested_keeps_siblings(spark):
    df = spark.createDataFrame(
        [(1, ("x", "y"))], "id int, a struct<b:string,c:string>")
    out = apply_stage(df, {"mutate": {"replace": {"[a][b]": "new-%{id}"}}})
    row = out.collect()[0]
    assert row["a"]["b"] == "new-1" and row["a"]["c"] == "y"


def test_mutate_replace_nested_new_key(spark):
    df = spark.createDataFrame([(1, ("x",))], "id int, a struct<b:string>")
    out = apply_stage(df, {"mutate": {"replace": {"[a][z]": "v"}}})
    row = out.collect()[0]
    assert row["a"]["b"] == "x" and row["a"]["z"] == "v"


def test_mutate_update_nested_only_when_present(spark):
    df = spark.createDataFrame(
        [(1, ("x",)), (2, (None,))], "id int, a struct<b:string>")
    out = apply_stage(df, {"mutate": {"update": {"[a][b]": "u", "[a][nope]": "n"}}})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["a"]["b"] == "u"
    assert rows[2]["a"]["b"] is None          # null leaf → update skipped
    assert "nope" not in rows[1]["a"].asDict()  # missing path → op skipped


def test_mutate_gsub_uppercase_strip_nested(spark):
    df = spark.createDataFrame(
        [(1, (" ab-cd ", "keep"))], "id int, a struct<b:string,c:string>")
    out = apply_stage(df, {"mutate": {
        "strip": ["[a][b]"], "gsub": ["[a][b]", "-", "_"],
        "uppercase": ["[a][b]"]}})
    row = out.collect()[0]
    assert row["a"]["b"] == "AB_CD" and row["a"]["c"] == "keep"


def test_mutate_convert_nested_leaf(spark):
    df = spark.createDataFrame(
        [(1, ("42", "s"))], "id int, a struct<n:string,s:string>")
    out = apply_stage(df, {"mutate": {"convert": {"[a][n]": "integer"}}})
    row = out.collect()[0]
    assert row["a"]["n"] == 42 and row["a"]["s"] == "s"
    # missing field → reference no-op, not an analysis error
    out2 = apply_stage(df, {"mutate": {"convert": {"[a][zz]": "integer",
                                                   "ghost": "integer"}}})
    assert out2.collect()[0]["a"]["n"] == "42"


def test_mutate_copy_into_nested_dest(spark):
    df = spark.createDataFrame(
        [(1, "msg", ("x",))], "id int, message string, meta struct<k:string>")
    out = apply_stage(df, {"mutate": {"copy": {"message": "[meta][copy]"}}})
    row = out.collect()[0]
    assert row["meta"]["k"] == "x" and row["meta"]["copy"] == "msg"


def test_mutate_rename_nested_to_top_and_back(spark):
    df = spark.createDataFrame(
        [(1, ("v", "w"))], "id int, a struct<b:string,c:string>")
    out = apply_stage(df, {"mutate": {"rename": {"[a][b]": "flat"}}})
    row = out.collect()[0]
    assert row["flat"] == "v"
    assert row["a"].asDict() == {"c": "w"}  # sibling kept, leaf dropped
    out2 = apply_stage(out, {"mutate": {"rename": {"flat": "[a][d]"}}})
    row2 = out2.collect()[0]
    assert "flat" not in out2.columns
    assert row2["a"]["d"] == "v" and row2["a"]["c"] == "w"


def test_mutate_rename_collapses_emptied_struct(spark):
    """Renaming the ONLY leaf out of a struct: Spark cannot keep an
    empty struct (documented deviation vs Ruby's leftover {}) — the
    emptied ancestor collapses."""
    df = spark.createDataFrame([(1, ("v",))], "id int, a struct<b:string>")
    out = apply_stage(df, {"mutate": {"rename": {"[a][b]": "flat"}}})
    assert "a" not in out.columns
    assert out.collect()[0]["flat"] == "v"
    # deep chain: removing d collapses up to the empty c, keeps b
    df2 = spark.createDataFrame(
        [(1, (("x", ("y",)),))],
        "id int, a struct<b:struct<keep:string,c:struct<d:string>>>")
    out2 = apply_stage(df2, {"mutate": {"rename": {"[a][b][c][d]": "flat"}}})
    row = out2.collect()[0]
    assert row["flat"] == "y"
    assert row["a"]["b"].asDict() == {"keep": "x"}


def test_mutate_coerce_nested_default(spark):
    df = spark.createDataFrame(
        [(1, (None, "s")), (2, ("v", "t"))],
        "id int, a struct<b:string,c:string>")
    out = apply_stage(df, {"mutate": {"coerce": {"[a][b]": "dflt"}}})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["a"]["b"] == "dflt" and rows[2]["a"]["b"] == "v"


def test_conditional_mutate_nested_new_key_pipeline(spark):
    """A when-wrapped mutate writing a NEW nested key retypes the
    struct; the merge lowering must align the unmatched rows' backup
    into the new shape (round-5 finding: CASE branch type mismatch)."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", ("k1",)), (2, "de", ("k2",))],
        "id int, lang string, meta struct<keep:string>")
    pipe = Pipeline({
        "id": "t", "filters": [
            {"when": "[lang] == 'en'",
             "mutate": {"replace": {"[meta][hit]": "y-%{id}"}}}],
    })
    rows = {r.id: r for r in pipe.compile(df).collect()}
    pipe.release_branch_caches()
    assert rows[1].meta["keep"] == "k1" and rows[1].meta["hit"] == "y-1"
    assert rows[2].meta["keep"] == "k2" and rows[2].meta["hit"] is None


# ---- round-5 review-wave-3 regressions (nested fieldref edge cases) ----


def test_rename_top_into_nested_same_column(spark):
    """rename a => [a][b] must nest the value, not drop the column
    (review: the post-set drop deleted the struct just written)."""
    df = spark.createDataFrame([("v1",), ("v2",)], "a string")
    out = apply_stage(df, {"mutate": {"rename": {"a": "[a][b]"}}})
    assert out.columns == ["a"]
    assert sorted(r["a"]["b"] for r in out.collect()) == ["v1", "v2"]


def test_rename_nested_onto_own_parent(spark):
    """rename [a][b] => a hoists the leaf over its parent without
    crashing on the now-scalar column."""
    df = spark.createDataFrame(
        [(("x", "y"),)], "a struct<b:string,c:string>")
    out = apply_stage(df, {"mutate": {"rename": {"[a][b]": "a"}}})
    assert dict(out.dtypes)["a"] == "string"
    assert out.collect()[0]["a"] == "x"


def test_rename_list_index_rejected(spark):
    df = spark.createDataFrame([(["x"],)], "arr array<string>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="list-index"):
        apply_stage(df, {"mutate": {"rename": {"[arr][0]": "first"}}})


def test_rename_overwrites_existing_dest(spark):
    """mutate.rb rename sets the destination — a pre-existing dest
    column is overwritten, never duplicated."""
    df = spark.createDataFrame([("old", "keep")], "b string, a string")
    out = apply_stage(df, {"mutate": {"rename": {"a": "b"}}})
    assert out.columns == ["b"]
    assert out.collect()[0]["b"] == "keep"


def test_merge_into_missing_dest_copies_source(spark):
    """mutate.rb merge: nil dest => Array(nil).concat(Array(src)) —
    array sources copy as-is, scalars wrap into a one-element array."""
    df = spark.createDataFrame(
        [(["x", "y"], "s")], "arr array<string>, sc string")
    out = apply_stage(df, {"mutate": {"merge": {"d1": "arr", "d2": "sc"}}})
    row = out.collect()[0]
    assert row["d1"] == ["x", "y"]
    assert row["d2"] == ["s"]


def test_merge_missing_source_noop(spark):
    df = spark.createDataFrame([(["x"],)], "arr array<string>")
    out = apply_stage(df, {"mutate": {"merge": {"arr": "nope"}}})
    assert out.collect()[0]["arr"] == ["x"]


def test_coerce_list_index_rejected(spark):
    import pytest as _pytest
    df = spark.createDataFrame([(["x"],)], "a array<string>")
    with _pytest.raises(ValueError, match="list index"):
        apply_stage(df, {"mutate": {"coerce": {"[a][0]": "d"}}})


def test_merge_map_into_map_src_wins_on_dup_keys(spark):
    """Hash#update: overlapping keys take the SOURCE value. Plain
    map_concat would throw under the default mapKeyDedupPolicy=
    EXCEPTION (review finding) — the lowering must drop overlapped
    dest keys first."""
    df = spark.createDataFrame(
        [({"a": "1", "keep": "d"}, {"a": "2", "new": "s"})],
        "d map<string,string>, s map<string,string>")
    out = apply_stage(df, {"mutate": {"merge": {"d": "s"}}})
    assert out.collect()[0]["d"] == {"a": "2", "keep": "d", "new": "s"}


def test_merge_scalar_into_scalar_makes_two_element_array(spark):
    """mutate.rb: Array(dest).concat(Array(src)) — two scalars become
    a two-element array, NOT a string concatenation."""
    df = spark.createDataFrame([("x", "y")], "d string, s string")
    out = apply_stage(df, {"mutate": {"merge": {"d": "s"}}})
    assert out.collect()[0]["d"] == ["x", "y"]


def test_merge_scalar_and_array_wrap_sides(spark):
    df = spark.createDataFrame(
        [(["x"], "y", "z")], "arr array<string>, sc string, sc2 string")
    out = apply_stage(df, {"mutate": {"merge": {"arr": "sc"}}})
    assert out.collect()[0]["arr"] == ["x", "y"]  # array <= scalar
    out2 = apply_stage(df, {"mutate": {"merge": {"sc2": "arr"}}})
    assert out2.collect()[0]["sc2"] == ["z", "x"]  # scalar <= array


def test_merge_hash_xor_guard_is_noop_with_warning(spark):
    """Reference XOR guard: hash <=> non-hash merge logs an error and
    leaves the event unchanged — never a Spark analysis error. Struct-
    typed hashes count as Hash too (review finding: they bypassed the
    guard and retyped into array<struct>)."""
    import warnings

    df = spark.createDataFrame(
        [({"k": "v"}, "s", ["a"], ("x",))],
        "m map<string,string>, sc string, arr array<string>, "
        "st struct<f:string>")
    for dest, src in (("m", "sc"), ("sc", "m"), ("arr", "m"),
                      ("missing", "m"), ("st", "sc"), ("sc", "st"),
                      ("st", "missing2"), ("m", "missing2")):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = apply_stage(df, {"mutate": {"merge": {dest: src}}})
        assert any("XOR" in str(x.message) for x in w), (dest, src)
        row = out.collect()[0]
        assert row["m"] == {"k": "v"} and row["sc"] == "s"
        assert row["arr"] == ["a"] and row["st"]["f"] == "x"
        assert "missing" not in out.columns


def test_merge_struct_into_struct_hash_update(spark):
    """Hash#update for struct-typed hashes: field union, src wins on
    overlapping names; a per-row NULL src leaves the dest values
    untouched (XOR per row)."""
    df = spark.createDataFrame(
        [(1, ("d1", "old"), ("new", "s2")), (2, ("d1", "old"), None)],
        "id int, d struct<a:string,b:string>, s struct<b:string,c:string>")
    out = apply_stage(df, {"mutate": {"merge": {"d": "s"}}})
    rows = {r["id"]: r["d"] for r in out.collect()}
    assert rows[1].asDict() == {"a": "d1", "b": "new", "c": "s2"}
    assert rows[2].asDict() == {"a": "d1", "b": "old", "c": None}


def test_merge_struct_source_into_map_dest(spark):
    """Hash#update across this engine's two hash encodings: struct
    fields become map entries, src wins on key overlap."""
    df = spark.createDataFrame(
        [({"a": "1", "keep": "d"}, ("2", "s"))],
        "d map<string,string>, s struct<a:string,n:string>")
    out = apply_stage(df, {"mutate": {"merge": {"d": "s"}}})
    assert out.collect()[0]["d"] == {"a": "2", "keep": "d", "n": "s"}


def test_merge_map_into_struct_dest_rejected(spark):
    """Per-row dynamic map keys cannot grow a typed struct — loud
    ValueError, not silent corruption."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(("x",), {"k": "v"})],
        "d struct<f:string>, s map<string,string>")
    with _pytest.raises(ValueError, match="dynamic keys"):
        apply_stage(df, {"mutate": {"merge": {"d": "s"}}})


def test_merge_null_rows_never_erase_the_other_side(spark):
    """Review finding: a per-row NULL source nulled the whole dest.
    Array(nil) = [] — null sides wrap to empty, data survives."""
    df = spark.createDataFrame(
        [(1, {"keep": "me"}, None, ["keep2"], None, "sc", None),
         (2, {"k": "v"}, {"k2": "v2"}, ["a"], ["b"], None, "z")],
        "id int, dm map<string,string>, sm map<string,string>, "
        "da array<string>, sa array<string>, dsc string, ssc string")
    out = apply_stage(df, {"mutate": {"merge": {
        "dm": "sm", "da": "sa", "dsc": "ssc"}}})
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["dm"] == {"keep": "me"}   # null map src → unchanged
    assert rows[1]["da"] == ["keep2"]        # null array src → concat []
    assert rows[1]["dsc"] == ["sc"]          # null scalar src → [dest]
    assert rows[2]["dm"] == {"k": "v", "k2": "v2"}
    assert rows[2]["da"] == ["a", "b"]
    assert rows[2]["dsc"] == ["z"]           # null scalar dest → [src]


def test_merge_missing_source_wraps_scalar_dest(spark):
    """mutate.rb: Array(dest).concat(Array(nil)) — a scalar dest
    becomes a one-element array even when the source is missing; two
    missing fields create an empty array."""
    df = spark.createDataFrame([("x",)], "d string")
    out = apply_stage(df, {"mutate": {"merge": {"d": "nope"}}})
    assert out.collect()[0]["d"] == ["x"]
    out2 = apply_stage(df, {"mutate": {"merge": {"both": "nope"}}})
    assert out2.collect()[0]["both"] == []


def test_map_key_ops_respect_per_row_presence(spark):
    """Review finding: Event#include? is per-row for map keys — update/
    coerce/gsub must not fabricate entries on rows lacking the key."""
    df = spark.createDataFrame(
        [(1, {"k": "hello"}), (2, {"other": "z"}), (3, {"k": None})],
        "id int, _meta map<string,string>")
    up = {r["id"]: r["_meta"] for r in apply_stage(
        df, {"mutate": {"update": {"[@metadata][k]": "NEW"}}}).collect()}
    assert up[1] == {"k": "NEW"}
    assert up[2] == {"other": "z"}          # no fabricated k -> null
    assert up[3] == {"k": "NEW"}            # include? true for present-nil
    co = {r["id"]: r["_meta"] for r in apply_stage(
        df, {"mutate": {"coerce": {"[@metadata][k]": "DEF"}}}).collect()}
    assert co[1] == {"k": "hello"}
    assert co[2] == {"other": "z"}          # absent key: no default
    assert co[3] == {"k": "DEF"}            # present + nil → default
    gs = {r["id"]: r["_meta"] for r in apply_stage(
        df, {"mutate": {"gsub": ["[@metadata][k]", "l+", "L"]}}).collect()}
    assert gs[1] == {"k": "heLo"}
    assert gs[2] == {"other": "z"}          # no fabricated k -> null


def test_conditional_scalar_to_array_retype_rejected(spark):
    """The loud conditional-retype refusal covers array/map targets
    too, not just structs (review finding: split under `when` died
    with an opaque DATA_DIFF_TYPES analysis error)."""
    import pytest as _pytest
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", "a,b")], "id int, lang string, f string")
    pipe = Pipeline({
        "id": "t", "filters": [
            {"when": "[lang] == 'en'",
             "mutate": {"split": {"f": ","}}}],
    })
    with _pytest.raises(ValueError, match="retypes"):
        pipe.compile(df).collect()


def test_metadata_map_key_upsert_preserves_siblings(spark):
    """[@metadata][k] writes must upsert ONE map key — clobbering the
    map with a struct would destroy every other entry and break later
    %{[@metadata][...]} reads (review finding)."""
    df = spark.createDataFrame(
        [({"k0": "v0"},)], "_meta map<string,string>")
    out = apply_stage(
        df, {"mutate": {"replace": {"[@metadata][k]": "v"}}})
    assert dict(out.dtypes)["_meta"].startswith("map")
    m = out.collect()[0]["_meta"]
    assert m == {"k0": "v0", "k": "v"}
    # overwrite an existing key (last-wins, no dedup-policy dependence)
    out2 = apply_stage(
        out, {"mutate": {"replace": {"[@metadata][k0]": "new"}}})
    assert out2.collect()[0]["_meta"] == {"k0": "new", "k": "v"}


def test_metadata_map_update_gsub_per_row(spark):
    """update/gsub on a map key work per-row (key presence is per-row,
    not schema-static)."""
    df = spark.createDataFrame(
        [({"k": "ab"},), ({"other": "zz"},)], "_meta map<string,string>")
    out = apply_stage(
        df, {"mutate": {"gsub": ["[@metadata][k]", "a", "X"]}})
    rows = [r["_meta"] for r in out.collect()]
    assert {"k": "Xb"} in rows
    # the row without the key keeps its entries; gsub writes null for it
    other = next(m for m in rows if "other" in m)
    assert other["other"] == "zz"


def test_metadata_map_null_map_vivifies(spark):
    df = spark.createDataFrame(
        [(1, None)], "id int, _meta map<string,string>")
    out = apply_stage(
        df, {"mutate": {"replace": {"[@metadata][k]": "v"}}})
    assert out.collect()[0]["_meta"] == {"k": "v"}


def test_remove_field_map_key(spark):
    df = spark.createDataFrame(
        [({"a": "1", "b": "2"},)], "_meta map<string,string>")
    out = apply_stage(
        df, {"mutate": {"remove_field": ["[@metadata][a]"]}})
    assert out.collect()[0]["_meta"] == {"b": "2"}


def test_add_field_map_key_conditional(spark):
    """Conditional add_field into a map column: matched rows gain the
    key, unmatched rows keep the map untouched (same type both CASE
    branches — no alignment needed)."""
    df = spark.createDataFrame(
        [("dur=5 x", {"k0": "a"}), ("nope", {"k0": "b"})],
        "message string, _meta map<string,string>")
    out = apply_stage(df, {"grok": {
        "match": {"message": r"dur=%{INT:dur}"},
        "add_field": {"[@metadata][hit]": "y"}}})
    rows = {r["_meta"]["k0"]: r["_meta"] for r in out.collect()}
    assert rows["a"] == {"k0": "a", "hit": "y"}
    assert rows["b"] == {"k0": "b"}


def test_conditional_add_field_through_scalar_intermediate_rejected(spark):
    """A conditional add_field through an EXISTING non-struct
    intermediate cannot keep unmatched rows intact in a typed schema —
    must refuse loudly, not clobber (review finding)."""
    import pytest as _pytest
    df = spark.createDataFrame(
        [("dur=5", ("keep", "scalar"))],
        "message string, a struct<keep:string,x:string>")
    with _pytest.raises(ValueError, match="retypes"):
        apply_stage(df, {"grok": {
            "match": {"message": r"dur=%{INT:dur}"},
            "add_field": {"[a][x][y]": "v"}}})


def test_conditional_scalar_to_struct_retype_rejected(spark):
    """A when-wrapped mutate that retypes a scalar column into a struct
    has no lawful otherwise branch — the merge lowering must refuse
    loudly instead of failing analysis or nulling unmatched rows."""
    import pytest as _pytest
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", "plain")], "id int, lang string, meta string")
    pipe = Pipeline({
        "id": "t", "filters": [
            {"when": "[lang] == 'en'",
             "mutate": {"replace": {"[meta][hit]": "y"}}}],
    })
    with _pytest.raises(ValueError, match="retypes"):
        pipe.compile(df).collect()


def test_conditional_nested_remove_preserves_unmatched_rows(spark):
    """Review finding: a when-wrapped nested remove_field dropped the
    struct key from the SCHEMA, erasing unmatched rows' values in the
    merge. The union alignment must keep them (matched rows carry null
    — the engine's documented per-row-removal deviation)."""
    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en", ("b1", "c1")), (2, "de", ("b2", "c2"))],
        "id int, lang string, a struct<b:string,c:string>")
    pipe = Pipeline({
        "id": "t", "filters": [
            {"when": "[lang] == 'en'",
             "mutate": {"remove_field": ["[a][b]"]}}],
    })
    rows = {r["id"]: r["a"] for r in pipe.compile(df).collect()}
    assert rows[1]["b"] is None and rows[1]["c"] == "c1"   # matched
    assert rows[2]["b"] == "b2" and rows[2]["c"] == "c2"   # untouched


def test_conditional_add_field_complex_leaf_refused(spark):
    """Review finding: a matched-gated add_field onto an existing
    COMPLEX leaf stringified unmatched rows' values via the otherwise
    cast — must refuse loudly instead."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [("dur=5 x", ((1,),))],
        "message string, a struct<b:struct<x:int>>")
    with _pytest.raises(ValueError, match="retypes"):
        apply_stage(df, {"grok": {
            "match": {"message": r"dur=%{INT:dur}"},
            "add_field": {"[a][b]": "y"}}}).collect()


def test_unconditional_nested_add_field_overwrites_scalar_top(spark):
    """event.set parity: mutate (matched=None) add_field [a][b] onto a
    scalar column a overwrites it with a hash — same as replace; the
    loud refusal is reserved for matched-gated stages."""
    df = spark.createDataFrame([("plain",)], "a string")
    out = apply_stage(df, {"mutate": {"add_field": {"[a][b]": "x"}}})
    assert out.collect()[0]["a"]["b"] == "x"


def test_rename_map_key_respects_per_row_presence(spark):
    """Review finding: rename from [@metadata][k] null-clobbered the
    destination on rows lacking the key; Event#include? is per row."""
    df = spark.createDataFrame(
        [(1, {"k": "v1", "o": "x"}, "d1"), (2, {"o": "y"}, "d2")],
        "id int, _meta map<string,string>, dest string")
    out = {r["id"]: r for r in apply_stage(df, {"mutate": {
        "rename": {"[@metadata][k]": "dest"}}}).collect()}
    assert out[1]["dest"] == "v1" and out[1]["_meta"] == {"o": "x"}
    assert out[2]["dest"] == "d2" and out[2]["_meta"] == {"o": "y"}
    # map-key -> map-key within the same map
    out2 = {r["id"]: r["_meta"] for r in apply_stage(df, {"mutate": {
        "rename": {"[@metadata][k]": "[@metadata][k2]"}}}).collect()}
    assert out2[1] == {"o": "x", "k2": "v1"}
    assert out2[2] == {"o": "y"}              # no fabricated k2


def test_conditional_write_into_void_column_allowed(spark):
    """Review finding: the cross-category refusal false-positived on a
    void (all-null) backup, where every value is preserved by cast."""
    from pyspark.sql import functions as F

    from logstash_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "en"), (2, "de")], "id int, lang string").withColumn(
        "x", F.lit(None))
    pipe = Pipeline({
        "id": "t", "filters": [
            {"when": "[lang] == 'en'",
             "mutate": {"replace": {"[x][y]": "v"}}}],
    })
    rows = {r["id"]: r["x"] for r in pipe.compile(df).collect()}
    assert rows[1]["y"] == "v"
    assert rows[2] is None


def test_split_into_map_value_refused(spark):
    """Review finding: split through a map key silently stored the
    STRINGIFIED array via try_cast — refuse loudly instead."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [({"k": "a,b"},)], "_meta map<string,string>")
    with _pytest.raises(ValueError, match="cannot store"):
        apply_stage(df, {"mutate": {"split": {"[@metadata][k]": ","}}})


def test_field_col_negative_index_and_metadata_digit_key(spark):
    """Review findings: [arr][-1] reads the LAST element (reference
    relative indexing); an all-digit key of the map-typed [@metadata]
    is a KEY lookup, never an array index; a dotted top-level column
    name resolves as itself, not as a nested path."""
    from pyspark.sql import functions as F

    from logstash_spark.fieldref import field_col

    df = spark.createDataFrame(
        [(["a", "b", "c"], {"0": "zero"}, "dotted")],
        "arr array<string>, _meta map<string,string>, `host.name` string")
    r = df.select(
        field_col("[arr][-1]").alias("last"),
        field_col("[arr][0]").alias("first"),
        field_col("[arr][5]").alias("oob"),
        field_col("[@metadata][0]").alias("mk"),
        field_col("[host.name]").alias("dotted"),
    ).collect()[0]
    assert r["last"] == "c" and r["first"] == "a" and r["oob"] is None
    assert r["mk"] == "zero"
    assert r["dotted"] == "dotted"


def test_sprintf_null_timestamp_keeps_template(spark):
    """Review finding: a null event_ts nulled the WHOLE template via
    concat propagation — the date piece must coalesce to '' like the
    field pieces do."""
    from logstash_spark.fieldref import sprintf_col

    df = spark.createDataFrame(
        [(1, None)], "id int, event_ts timestamp")
    r = df.select(sprintf_col("logs-%{+yyyy.MM.dd}-%{id}").alias("x"))
    assert r.collect()[0]["x"] == "logs--1"

"""Blacklist predicate tests, ported from /root/reference/blacklist_test.go:51-132."""

from pyspark.sql import functions as F

from identity_matching_spark.operators.blacklist import Blacklist


def _eval(spark, pred_builder, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    rows = df.select(pred_builder(F.col("s")).alias("out")).collect()
    return [bool(r["out"]) for r in rows]


def test_default_blacklist_contents():
    b = Blacklist.default()
    assert "users.noreply.github.com" in b.domains
    assert "localdomain" in b.top_level_domains
    assert "your name" in b.names
    assert "badges@fossa.io" in b.emails
    assert "a@a.a" in b.popular_emails
    assert "alex" in b.popular_names
    assert "bob" in b.popular_names and "alice" in b.popular_names


def test_is_multiple_email(spark):
    b = Blacklist.testing()
    assert _eval(
        spark,
        b.is_multiple_email,
        ["first@mail.com second@mail.com", "first@mail.com;second@mail.com", "first@mail.com"],
    ) == [True, True, False]


def test_is_blacklisted_email(spark):
    b = Blacklist.testing()
    assert _eval(spark, b.is_blacklisted_email, ["nobody@android.com", "somebody@android.com"]) == [
        True,
        False,
    ]


def test_is_ignored_domain(spark):
    b = Blacklist.testing()
    trues = [
        "1@localhost.localdomain",
        "admin@example.com",
        "max@example.com",
        "localhost.localdomain",
        "example.com",
    ]
    falses = ["somebody@android.com", "android.com"]
    assert _eval(spark, b.is_ignored_domain, trues) == [True] * len(trues)
    assert _eval(spark, b.is_ignored_domain, falses) == [False] * len(falses)


def test_is_ignored_tld(spark):
    b = Blacklist.testing()
    falses = ["not_ignored", "full.domain.not_ignored", "email@full.domain.not_ignored"]
    trues = ["ignored_tld", "full.domain.ignored_tld", "email@full.domain.ignored_tld"]
    assert _eval(spark, b.is_ignored_tld, falses) == [False] * len(falses)
    assert _eval(spark, b.is_ignored_tld, trues) == [True] * len(trues)


def test_is_ip_domain(spark):
    b = Blacklist.testing()
    trues = [
        "0.0.0.0",
        "192.168.0.1",
        "88.35.10.128",
        "2001:db8:85a3::8a2e:370:7334",
        "2001:db8:85a3:0:0:8a2e:370:7334",
        "0:0:0:0:0:0:0:1",
        "blockchaindev34.172.20.180.160",
    ]
    falses = ["notip.com", "notip", "88.131.110"]
    assert _eval(spark, b.is_ip_domain, trues) == [True] * len(trues)
    assert _eval(spark, b.is_ip_domain, falses) == [False] * len(falses)


def test_is_single_label_domain(spark):
    b = Blacklist.testing()
    assert _eval(spark, b.is_single_label_domain, ["singlelabel", "", "not.singlelabel", "."]) == [
        True,
        True,
        False,
        False,
    ]


def test_is_ignored_name(spark):
    b = Blacklist.testing()
    assert _eval(spark, b.is_ignored_name, ["unknown", "known"]) == [True, False]


def test_is_ignored_email(spark):
    b = Blacklist.testing()
    trues = [
        "bad@email",
        "root@0.0.0.0",
        "admin@2001:db8:85a3::8a2e:370:7334",
        "no-domain-mail@",
        "admin1@google.com admin2@google.com",
        "bad-domain@example.com",
        "nobody@android.com",
        "not a mail",
    ]
    falses = [
        "good-email@google.com",
        "dot.in.name@is.ok.com",
        "dash-in-name@is.ok.com",
        "max@google.com",
        "admin-vadim@google.com",
        "also+ok-mail@inbox.org",
    ]
    assert _eval(spark, b.is_ignored_email, trues) == [True] * len(trues)
    assert _eval(spark, b.is_ignored_email, falses) == [False] * len(falses)


def test_in_set_matches_isin(spark):
    """The one-call set predicate agrees with ``Column.isin`` row for row,
    on quotes, backslashes, non-ASCII text, the empty string and NULL."""
    from identity_matching_spark.operators.blacklist import _in_set

    values = frozenset({"o'brien", "back\\slash", "it's\\'", "josé", "日本語", "", "plain"})
    data = ["o'brien", "o\\'brien", "back\\slash", "backslash", "it's\\'", "josé", "jose",
            "日本語", "日本", "", "plain", None]
    df = spark.createDataFrame([(v,) for v in data], "s string")
    rows = df.select(
        _in_set(F.col("s"), values).alias("got"),
        F.col("s").isin(*values).alias("want"),
    ).collect()
    assert [r["got"] for r in rows] == [r["want"] for r in rows]
    assert [r["got"] for r in rows] == [v in values if v is not None else None for v in data]


def test_in_set_empty_is_false_and_nul_rejected(spark):
    import pytest

    from identity_matching_spark.operators.blacklist import _in_set

    df = spark.createDataFrame([("a",), (None,)], "s string")
    assert [r[0] for r in df.select(_in_set(F.col("s"), frozenset())).collect()] == [False, False]
    # NUL is the separator the set crosses to the JVM with
    with pytest.raises(ValueError, match="NUL"):
        _in_set(F.col("s"), frozenset({"a\x00b"}))


def test_popular_name_plan_is_inset(spark, capsys):
    """Over the 1,024 vendored popular names the predicate still plans as
    one ``InSet`` — the same physical plan ``Column.isin`` gives."""
    b = Blacklist.default()
    df = spark.createDataFrame([("alex",), ("zz-not-a-name",)], "s string")
    got = df.where(b.is_popular_name(F.col("s")))
    got.explain()
    plan = capsys.readouterr().out
    assert "INSET" in plan
    df.where(F.col("s").isin(*b.popular_names)).explain()
    assert capsys.readouterr().out == plan
    assert [r["s"] for r in got.collect()] == ["alex"]

"""Blacklist precision filters (SURVEY §2.3 F1–F10).

Semantics match /root/reference/blacklist.go:73-132 and the research twin
/root/reference/research/idmatching/filtering.py:22-88:

* ``is_ignored_email``: no ``@`` ∨ blacklisted ∨ multiple ``@`` ∨ ignored
  domain ∨ ignored TLD ∨ single-label domain ∨ IP-literal domain.
* ``is_ignored_name``: lowercased name ∈ Names set.
* ``is_popular_email`` / ``is_popular_name``: membership flags — they never
  drop rows; popular emails are excluded from email blocking
  (/root/reference/matching.go:128-131) and popular names are repo-qualified
  (/root/reference/people.go:140-145).

The six sets are small (≤ ~1000 entries), so membership is expressed as an
``IN`` of string literals: Catalyst compiles it to an in-set predicate that
stays inside whole-stage codegen and can be pushed into the scan — cheaper
than a broadcast join for lists this size. Computed (co-occurrence) popular
keys of arbitrary size instead flow through broadcast joins in
``operators/stats.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.classic.column import Column as ClassicColumn

from identity_matching_spark.functions.normalize import strip_accents_py

_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "blacklists")

# IPv4/IPv6 literal detection, regexes taken verbatim from the reference
# (/root/reference/blacklist.go:123-124); Java and Go RE2 syntax agree here.
IP4_REGEX = r"\d+\.\d+\.\d+\.\d+$"
IP6_REGEX = (
    r"(([0-9a-fA-F]{1,4}:){7,7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,7}:|([0-9a-fA-F]{1,4}:)"
    r"{1,6}:[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){1,2}|([0-9a-fA-F]{1,4}:)"
    r"{1,4}(:[0-9a-fA-F]{1,4}){1,3}|([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|"
    r"([0-9a-fA-F]{1,4}:){1,2}(:[0-9a-fA-F]{1,4}){1,5}|[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4})"
    r"{1,6})|:((:[0-9a-fA-F]{1,4}){1,7}|:)|fe80:(:[0-9a-fA-F]{0,4}){0,4}%[0-9a-zA-Z]{1,}|"
    r"::(ffff(:0{1,4}){0,1}:){0,1}((25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9])\.){3,3}(25[0-5]|"
    r"(2[0-4]|1{0,1}[0-9]){0,1}[0-9])|([0-9a-fA-F]{1,4}:){1,4}:((25[0-5]|(2[0-4]|1{0,1}[0-9])"
    r"{0,1}[0-9])\.){3,3}(25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9]))"
)


_SEP = "\x00"


def _in_set(col: Column, values: frozenset[str]) -> Column:
    """``col IN values``, built with a handful of py4j calls; ``F.lit(False)``
    for an empty set.

    ``Column.isin(*values)`` makes one py4j round trip per literal, about
    0.5 s of driver time per predicate over the 1,024 popular names. Here the
    set crosses to the JVM as one NUL-joined string, split there, and the JVM
    column's ``isin(Seq)`` builds the same ``In`` of string literals that
    ``Column.isin`` builds, so results and plans (``InSet`` above the
    optimizer's conversion threshold) are unchanged.
    """
    if not values:
        return F.lit(False)
    if any(_SEP in v for v in values):
        raise ValueError("blacklist entries must not contain NUL characters")
    jvm = SparkContext._active_spark_context._jvm
    arr = jvm.java.util.regex.Pattern.compile(_SEP).split(_SEP.join(sorted(values)), -1)
    seq = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
    return ClassicColumn(col._jc.isin(seq))


def _normalize_entry(line: str) -> str:
    """Same normalization the reference applies on load (blacklist.go:61-68)."""
    return " ".join(strip_accents_py(line).split()).strip().lower()


def _load_list(name: str) -> frozenset[str]:
    path = os.path.join(_DATA_DIR, f"{name}.csv")
    with open(path, encoding="utf-8") as fh:
        return frozenset(_normalize_entry(line) for line in fh if line.strip())


@dataclass(frozen=True)
class Blacklist:
    """Six normalized string sets driving the precision filters."""

    domains: frozenset[str]
    top_level_domains: frozenset[str]
    names: frozenset[str]
    emails: frozenset[str]
    popular_emails: frozenset[str]
    popular_names: frozenset[str] = field(default_factory=frozenset)

    @staticmethod
    def default() -> "Blacklist":
        """Production lists vendored from the reference's embedded data."""
        return Blacklist(
            domains=_load_list("domains"),
            top_level_domains=_load_list("top_level_domains"),
            names=_load_list("names"),
            emails=_load_list("emails"),
            popular_emails=_load_list("popular_emails"),
            popular_names=_load_list("popular_names"),
        )

    @staticmethod
    def testing() -> "Blacklist":
        """The reference's in-test fixture (blacklist_test.go:9-37)."""
        return Blacklist(
            domains=frozenset({"localhost.localdomain", "example.com", "test.com", "domain.com"}),
            top_level_domains=frozenset({"ignored_tld"}),
            names=frozenset({"unknown", "ubuntu", "admin"}),
            emails=frozenset({"nobody@android.com", "badger@gitter.im"}),
            popular_emails=frozenset({"popular@email.com"}),
            popular_names=frozenset({"popular"}),
        )

    # --- predicates over a (already cleaned) email column -----------------

    def is_multiple_email(self, email: Column) -> Column:
        return F.size(F.split(email, "@", -1)) > 2

    def is_blacklisted_email(self, email: Column) -> Column:
        return _in_set(email, self.emails)

    def _domain(self, email: Column) -> Column:
        # parts[1], exactly like blacklist.go:77-78 (multiple-@ already true'd);
        # try_ variant: ANSI mode would throw on @-less strings that the Go
        # code short-circuits before this point.
        return F.try_element_at(F.split(email, "@", -1), F.lit(2))

    def is_ignored_domain(self, domain: Column) -> Column:
        d = F.element_at(F.split(domain, "@", -1), -1)
        return _in_set(d, self.domains)

    def is_ignored_tld(self, domain: Column) -> Column:
        tld = F.element_at(F.split(F.element_at(F.split(domain, "@", -1), -1), r"\.", -1), -1)
        return _in_set(tld, self.top_level_domains)

    @staticmethod
    def is_single_label_domain(domain: Column) -> Column:
        return ~domain.contains(".")

    @staticmethod
    def is_ip_domain(domain: Column) -> Column:
        return domain.rlike(IP4_REGEX) | domain.rlike(IP6_REGEX)

    def is_ignored_email(self, email: Column) -> Column:
        domain = self._domain(email)
        return (
            ~email.contains("@")
            | self.is_blacklisted_email(email)
            | self.is_multiple_email(email)
            | self.is_ignored_domain(domain)
            | self.is_ignored_tld(domain)
            | self.is_single_label_domain(domain)
            | self.is_ip_domain(domain)
        )

    # --- predicates over a (already cleaned) name column ------------------

    def is_ignored_name(self, name: Column) -> Column:
        return _in_set(F.lower(name), self.names)

    def is_popular_name(self, name: Column) -> Column:
        return _in_set(name, self.popular_names)

    def is_popular_email(self, email: Column) -> Column:
        return _in_set(email, self.popular_emails)

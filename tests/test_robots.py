"""robots.txt kernel: RFC 9309 group structure, longest-match rules,
wildcards, agent selection, and the never-raises contract."""

from nreadability_spark.readability.robots import (Robots, crawl_delay,
                                                   is_allowed,
                                                   parse_robots)

SAMPLE = """
# global rules
User-agent: *
Disallow: /private/
Allow: /private/ok
Crawl-delay: 2

User-agent: specialbot
User-agent: otherbot
Disallow: /
Allow: /public*

Sitemap: https://example.org/sitemap.xml
"""


def test_group_structure_and_sitemap():
    r = parse_robots(SAMPLE)
    assert len(r.groups) == 2
    assert r.groups[0].agents == ["*"]
    assert r.groups[1].agents == ["specialbot", "otherbot"]
    assert r.sitemaps == ["https://example.org/sitemap.xml"]
    assert r.groups[0].crawl_delay == 2.0


def test_longest_match_and_allow_tiebreak():
    r = parse_robots(SAMPLE)
    assert is_allowed(r, "genericbot", "/anything") is True
    assert is_allowed(r, "genericbot", "/private/x") is False
    # Allow /private/ok is longer than Disallow /private/
    assert is_allowed(r, "genericbot", "/private/ok/page") is True
    # specific group: / disallows, /public* allows (longer)
    assert is_allowed(r, "specialbot", "/x") is False
    assert is_allowed(r, "specialbot", "/public/page") is True
    assert is_allowed(r, "otherbot-v2", "/x") is False  # prefix match


def test_wildcards_and_anchor():
    r = parse_robots("User-agent: *\n"
                     "Disallow: /*.pdf$\n"
                     "Disallow: /tmp*/x\n")
    assert is_allowed(r, "b", "/doc.pdf") is False
    assert is_allowed(r, "b", "/doc.pdf.html") is True
    assert is_allowed(r, "b", "/tmp123/x") is False
    assert is_allowed(r, "b", "/tmp123/y") is True


def test_empty_disallow_is_allow_all():
    r = parse_robots("User-agent: *\nDisallow:\n")
    assert is_allowed(r, "b", "/anything") is True


def test_ua_after_rules_starts_new_group():
    r = parse_robots("User-agent: a\nDisallow: /x\n"
                     "User-agent: b\nDisallow: /y\n")
    assert len(r.groups) == 2
    assert is_allowed(r, "a", "/x") is False and is_allowed(r, "a", "/y")
    assert is_allowed(r, "b", "/y") is False and is_allowed(r, "b", "/x")


def test_star_group_only_as_fallback():
    r = parse_robots("User-agent: *\nDisallow: /\n"
                     "User-agent: mybot\nAllow: /\n")
    assert is_allowed(r, "mybot", "/page") is True
    assert is_allowed(r, "elsebot", "/page") is False


def test_malformed_never_raises():
    for text in ("", ":::", "Disallow: /orphan\n", "User-agent\n",
                 "User-agent: a\nCrawl-delay: soon\nDisallow: /x\n",
                 "\x00\xff garbage [*] (((", None):
        r = parse_robots(text)
        assert isinstance(r, Robots)
        assert is_allowed(r, "any", "/p") in (True, False)
    # regex metachars in patterns must not blow up the matcher
    r = parse_robots("User-agent: *\nDisallow: /a(b[c\n")
    assert is_allowed(r, "x", "/a(b[c-d") is False
    assert is_allowed(r, "x", "/other") is True


def test_crawl_delay_selection():
    r = parse_robots(SAMPLE)
    assert crawl_delay(r, "randombot") == 2.0
    assert crawl_delay(r, "specialbot") is None


def test_fuzz_never_raises():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.text(max_size=512), st.text(max_size=24),
           st.text(max_size=64))
    def run(text, agent, path):
        r = parse_robots(text)
        assert is_allowed(r, agent, path) in (True, False)
    run()


def test_synthesized_robots_cover_the_template_hosts():
    """synthesize_robots writes a robots.txt for exactly the hosts of the
    template url space that robots_txt_py gives a file, with that file's
    text. Spark-free: the session stand-in hands back the rows."""
    from urllib.parse import urlsplit

    from nreadability_spark.spark.pages import N_HOSTS, template_url_py
    from nreadability_spark.spark.sources import (robots_txt_py,
                                                  synthesize_robots)

    class Rows:
        def createDataFrame(self, rows, schema):
            return rows

    got = dict(synthesize_robots(Rows()))
    want = {urlsplit(template_url_py(d)).hostname: robots_txt_py(d % N_HOSTS)
            for d in range(3 * N_HOSTS) if robots_txt_py(d % N_HOSTS)}
    assert got == want
    # some hosts have no robots file, and the rest do
    assert 0 < len(got) < N_HOSTS


def test_robots_check_spark_matches_kernel():
    """The distributed gate must agree with the pure kernel row-for-row,
    including missing-robots hosts (allow) and malformed hosts."""
    import pytest
    pytest.importorskip("pyspark")
    from nreadability_spark.spark.pages import N_HOSTS, template_url_py
    from nreadability_spark.spark.session import get_spark
    from nreadability_spark.spark.sources import (ROBOTS_AGENT,
                                                  robots_check,
                                                  robots_txt_py)
    spark = get_spark("robots-tests", master="local[4]",
                      shuffle_partitions=8)
    try:
        out = {r["doc_id"]: r for r in
               robots_check(spark, "/root/testdata/sf0.001").collect()}
        assert len(out) == 500
        for did in (0, 1, 3, 13, 17, 33, 51, 170, 433):
            host = did % N_HOSTS
            txt = robots_txt_py(host)
            if txt is None:
                want_allowed, want_delay = True, None
            else:
                r = parse_robots(txt)
                want_allowed = is_allowed(r, ROBOTS_AGENT,
                                          f"/articles/{did}")
                d = crawl_delay(r, ROBOTS_AGENT)
                want_delay = int(d * 1000) if d is not None else None
            row = out[did]
            assert row["url"] == template_url_py(did)
            assert row["allowed"] == want_allowed, did
            assert row["delay_ms"] == want_delay, did
        # the gate must actually discriminate
        vals = {r["allowed"] for r in out.values()}
        assert vals == {True, False}
        # every missing-robots host (h % 17 == 0) is allowed
        assert all(r["allowed"] for r in out.values()
                   if (r["doc_id"] % N_HOSTS) % 17 == 0)
    finally:
        spark.stop()


def test_multiple_matching_groups_merge():
    """RFC 9309 §2.2.1: ALL groups matching the agent combine — a
    second 'User-agent: bot' block's Disallow must not be ignored."""
    r = parse_robots("User-agent: bot\nDisallow: /x\n"
                     "User-agent: other\nDisallow: /z\n"
                     "User-agent: bot\nDisallow: /y\nCrawl-delay: 3\n")
    assert is_allowed(r, "bot", "/x") is False
    assert is_allowed(r, "bot", "/y") is False   # second group honored
    assert is_allowed(r, "bot", "/z") is True    # other group ignored
    assert crawl_delay(r, "bot") == 3.0
    # multiple '*' groups merge the same way
    r2 = parse_robots("User-agent: *\nDisallow: /a\n"
                      "User-agent: *\nDisallow: /b\n")
    assert is_allowed(r2, "any", "/a") is False
    assert is_allowed(r2, "any", "/b") is False
    assert is_allowed(r2, "any", "/c") is True


def test_merge_only_at_winning_specificity():
    """A longer agent-token match excludes shorter groups from the
    merge; equal-length matches merge."""
    r = parse_robots("User-agent: google\nDisallow: /short\n"
                     "User-agent: googlebot\nDisallow: /a\n"
                     "User-agent: googlebot\nDisallow: /b\n")
    assert is_allowed(r, "googlebot-news", "/a") is False
    assert is_allowed(r, "googlebot-news", "/b") is False
    assert is_allowed(r, "googlebot-news", "/short") is True

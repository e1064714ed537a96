"""robots.txt semantics (functions/robots, RFC 9309): group
selection, wildcard/anchor matching, longest-match precedence with
Allow winning ties."""

from __future__ import annotations

from mints_wind_data_ingestion_spark.functions.robots import (
    parse_robots,
    robots_allowed,
)

ROBOTS = """
# politeness file
User-agent: otherbot
Disallow: /

User-agent: windflow
Disallow: /doc/
Allow: /doc/*0
Allow: /doc/17$
Disallow: /priv*

User-agent: *
Disallow:

Sitemap: https://example.org/sitemap.xml
"""


def test_group_selection_and_fallback():
    r = parse_robots(ROBOTS)
    assert robots_allowed(r, "windflow/1.0", "/doc/3") is False
    assert robots_allowed(r, "otherbot", "/anything") is False
    # unknown agent → * group (empty Disallow = allow all)
    assert robots_allowed(r, "somebody", "/doc/3") is True
    # longest-prefix group: 'windflowX' matches token 'windflow'
    assert robots_allowed(r, "windflowX/2", "/doc/3") is False
    assert r.sitemaps == ["https://example.org/sitemap.xml"]


def test_longest_match_and_anchors():
    r = parse_robots(ROBOTS)
    # /doc/*0 (8 octets) beats /doc/ (5): ids ending in 0 allowed
    assert robots_allowed(r, "windflow", "/doc/10") is True
    assert robots_allowed(r, "windflow", "/doc/100") is True
    assert robots_allowed(r, "windflow", "/doc/11") is False
    # $-anchored exact allow
    assert robots_allowed(r, "windflow", "/doc/17") is True
    assert robots_allowed(r, "windflow", "/doc/171") is False
    # mid-pattern wildcard
    assert robots_allowed(r, "windflow", "/private/x") is False


def test_tie_allow_wins_and_empty_group():
    r = parse_robots(
        "User-agent: a\nDisallow: /p\nAllow: /p\n"
        "User-agent: b\n"  # group with no rules
        "Disallow: /q\n"   # belongs to b (consecutive UA then rules)
    )
    assert robots_allowed(r, "a", "/p/x") is True   # tie → Allow
    assert robots_allowed(r, "b", "/q/x") is False
    # a's rules do NOT leak into b
    assert robots_allowed(r, "b", "/p/x") is True


def test_consecutive_user_agents_share_rules():
    r = parse_robots(
        "User-agent: a\nUser-agent: b\nDisallow: /x\n"
        "User-agent: c\nAllow: /x\nDisallow: /\n"
    )
    assert robots_allowed(r, "a", "/x/1") is False
    assert robots_allowed(r, "b", "/x/1") is False
    assert robots_allowed(r, "c", "/x/1") is True
    assert robots_allowed(r, "c", "/y") is False


def test_matcher_edge_cases():
    r = parse_robots("User-agent: *\nDisallow: /a*b$\n")
    assert robots_allowed(r, "x", "/ab") is False
    assert robots_allowed(r, "x", "/a-anything-b") is False
    assert robots_allowed(r, "x", "/a-anything-bc") is True
    r = parse_robots("User-agent: *\nDisallow: /a**b\n")
    assert robots_allowed(r, "x", "/ab/tail") is False
    r = parse_robots("User-agent: *\nDisallow: /tail*$\n")
    assert robots_allowed(r, "x", "/tail-anything") is False
    assert robots_allowed(r, "x", "/tai") is True


def test_hypothesis_matcher_vs_regex_reference():
    """Property: the iterative wildcard matcher agrees with a
    regex-translated reference on random pattern/path pairs."""
    import re

    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from mints_wind_data_ingestion_spark.functions.robots import (
        _pattern_matches,
    )

    alphabet = "ab/*.$%"

    def ref(pattern: str, path: str) -> bool:
        anchored = pattern.endswith("$")
        core = pattern[:-1] if anchored else pattern
        rx = "".join(
            ".*" if c == "*" else re.escape(c) for c in core
        )
        rx = "^" + rx + ("$" if anchored else "")
        return re.match(rx, path) is not None

    @settings(max_examples=400, deadline=None)
    @given(
        pattern=st.text(alphabet, max_size=12),
        path=st.text("ab/.%", max_size=16),
    )
    # a '$'-anchored last literal that also occurs earlier in the path
    @example(pattern="/a*b$", path="/ab/b")
    @example(pattern="*/$", path="//")
    @example(pattern="/*.php$", path="/x.php/y.php")
    def prop(pattern, path):
        # '$' only terminal in robots patterns; interior '$' is
        # literal for BOTH implementations, so compare raw
        assert _pattern_matches(pattern, path) == ref(pattern, path)

    prop()

"""robots.txt parsing + allow/deny evaluation (RFC 9309) — the crawl
politeness filter a curation pipeline applies before (or while
auditing) ingestion.

Semantics implemented, per RFC 9309 with the ambiguities resolved the
way the major crawlers do (documented here because the RFC leaves
them open):

- Groups: consecutive `User-agent` lines share the following rules;
  a crawler obeys the group whose agent token is the LONGEST
  case-insensitive prefix of its product token, falling back to the
  `*` group, else allow-all.
- Rule matching: a pattern matches a path from the FIRST octet; `*`
  matches any run (including empty), a trailing `$` anchors the end.
  Percent-comparison is done on the raw strings as given.
- Precedence: the matching rule with the MOST octets in its pattern
  wins; on a tie between Allow and Disallow, Allow wins. An empty
  `Disallow:` value matches nothing (allow-all).
- Unknown directives and comments (`#`) are ignored; `Sitemap` lines
  are collected.

The evaluator is pure deterministic string logic (no regex
backtracking pathologies: patterns compile to `fnmatch`-free manual
scans), so decisions are engine-replayable — `x_robots_filter` pins
them against a closed-form SQL oracle.

No reference analogue; mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

__all__ = ["parse_robots", "robots_allowed", "RobotsRules"]


class RobotsRules:
    """Parsed robots.txt: {agent_token_lower: [(pattern, allow)]},
    plus sitemap URLs. Rule lists keep file order; evaluation applies
    the longest-match / allow-ties rule."""

    __slots__ = ("groups", "sitemaps")

    def __init__(self):
        self.groups: dict[str, list[tuple[str, bool]]] = {}
        self.sitemaps: list[str] = []


def parse_robots(text: str) -> RobotsRules:
    rules = RobotsRules()
    current: list[str] = []
    rules_seen_for_current = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if rules_seen_for_current:
                current = []
                rules_seen_for_current = False
            tok = value.lower()
            current.append(tok)
            rules.groups.setdefault(tok, [])
        elif field in ("allow", "disallow"):
            rules_seen_for_current = True
            if field == "disallow" and value == "":
                continue  # empty Disallow matches nothing
            for tok in current:
                rules.groups[tok].append((value, field == "allow"))
        elif field == "sitemap":
            rules.sitemaps.append(value)
    return rules


def _pattern_matches(pattern: str, path: str) -> bool:
    """Anchored-at-start match with `*` wildcards and optional
    trailing `$`; iterative two-pointer scan (no regex)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")
    if not path.startswith(parts[0]):
        return False
    pos = len(parts[0])
    if anchored and len(parts) == 1:
        return pos == len(path)  # no '*': the literal IS the path
    # leftmost match of each middle literal leaves the most room for
    # the rest; an anchored last literal is not searched for but must
    # END the path, to the right of everything matched before it
    for part in parts[1:-1] if anchored else parts[1:]:
        found = path.find(part, pos)
        if found < 0:
            return False
        pos = found + len(part)
    if anchored:
        return path.endswith(parts[-1]) and len(path) - len(parts[-1]) >= pos
    return True


def _group_for(rules: RobotsRules, agent: str) -> list[tuple[str, bool]]:
    product = agent.lower().split("/")[0].strip()
    best = None
    for tok in rules.groups:
        if tok != "*" and product.startswith(tok):
            if best is None or len(tok) > len(best):
                best = tok
    if best is not None:
        return rules.groups[best]
    return rules.groups.get("*", [])


def robots_allowed(rules: RobotsRules, agent: str, path: str) -> bool:
    """True when `agent` may fetch `path` under `rules`."""
    best_len = -1
    allow = True  # no matching rule → allowed
    for pattern, is_allow in _group_for(rules, agent):
        if _pattern_matches(pattern, path):
            n = len(pattern)
            if n > best_len or (n == best_len and is_allow and not allow):
                if n > best_len:
                    allow = is_allow
                else:
                    allow = True  # tie → Allow wins
                best_len = n
    return allow

"""Rule loader / template-compile unit tests (SURVEY.md 2.7, 5.2 #2).

Template->regex behavior pinned against the reference's
ConfigManager.cpp:203-226; validation against the editor's
ValidationService.cs:20-148.
"""

import re

import pytest

from logeventprocessor_spark.rules import (
    Rule,
    RuleStep,
    RuleValidationError,
    canonical_rules,
    collapse_double_backslashes,
    load_rules_yaml,
    template_to_regex,
    validate_rules,
)


def test_template_hash_becomes_nonspace_capture():
    assert template_to_regex(".*hello # world.*") == r".*hello ([^\s]+) world.*"


def test_template_multiple_hashes():
    assert template_to_regex("# says #") == r"([^\s]+) says ([^\s]+)"


def test_double_backslash_collapse():
    assert collapse_double_backslashes(".*\\\\[ERROR\\\\].*") == r".*\[ERROR\].*"
    assert template_to_regex(".*\\\\[ERROR\\\\].*") == r".*\[ERROR\].*"


def test_compiled_template_matches_like_reference():
    pat = re.compile(template_to_regex(".*hello # world.*"), re.IGNORECASE)
    m = pat.search("say Hello cruel world now")
    assert m and m.group(1) == "cruel"
    assert not pat.search("hello  world")  # '#' requires >=1 non-space char


def test_canonical_rules_compile_and_order():
    rules = canonical_rules()
    assert [r.rule_idx for r in rules] == list(range(len(rules)))
    for r in rules:
        re.compile(r.pattern)


def test_validation_rejects_duplicates():
    rules = [Rule("a", 0, "x"), Rule("a", 1, "y")]
    with pytest.raises(RuleValidationError):
        validate_rules(rules)


def test_validation_rejects_bad_regex():
    with pytest.raises(RuleValidationError):
        validate_rules([Rule("a", 0, "([unclosed")])


def test_validation_rejects_bad_action_type():
    with pytest.raises(RuleValidationError):
        validate_rules([Rule("a", 0, "x", steps=(RuleStep(0, "launch", "v"),))])


def test_validation_rejects_negative_cooldown():
    with pytest.raises(RuleValidationError):
        validate_rules([Rule("a", 0, "x", cooldown_ms=-1)])


def test_yaml_loader_roundtrip(tmp_path):
    y = tmp_path / "rules.yaml"
    y.write_text(
        """
regex_rules:
  - name: hello_world_response
    pattern: ".*hello # world.*"
    action_type: command
    action_value: "g # Goodbye"
  - name: attack_minions
    pattern: ".*Attack my minions.*"
    cooldown_ms: 5000
    actions:
      - type: keystroke
        value: "Ctrl + 1"
        modifiers: 2
        delay_ms: 2500
      - type: command
        value: "g at delaying"
  - name: disabled_rule
    pattern: "never"
    enabled: false
    action_type: text
    action_value: "x"
"""
    )
    rules = load_rules_yaml(str(y))
    assert len(rules) == 3
    assert rules[0].pattern == r".*hello ([^\s]+) world.*"
    assert rules[0].steps[0].type == "command"
    assert rules[1].cooldown_ms == 5000
    assert len(rules[1].steps) == 2
    assert rules[1].steps[1].value == "g at delaying"
    assert rules[2].enabled is False
    assert [r.rule_idx for r in rules] == [0, 1, 2]


def test_prefilter_literal_extraction():
    from logeventprocessor_spark.operators.match import prefilter_literal

    assert prefilter_literal(r".*hello ([^\s]+) world.*") in ("hello ", " world")
    assert prefilter_literal(r".*\[ERROR\].*") == "[error]"
    assert prefilter_literal(r"([^\s]+) tells you, '(.+)'") == " tells you, '"
    assert prefilter_literal(r".*Attack my minions.*") == "attack my minions"


def test_prefilter_literal_safety():
    from logeventprocessor_spark.operators.match import prefilter_literal

    # alternation: a branch literal is not required -> no prefilter
    assert prefilter_literal(r"(foo|barbaz)") is None
    assert prefilter_literal(r"abc|def") is None
    # optional last atom: trimmed
    assert prefilter_literal(r"abcde?f") in ("abcd", None)
    assert prefilter_literal(r"abcde*") == "abcd"
    assert prefilter_literal(r"abcde{0,3}") == "abcd"
    # {1,...} keeps the atom required
    assert prefilter_literal(r"abcde{1,3}") == "abcde"
    # too short -> None
    assert prefilter_literal(r"ab.*") is None


def test_prefilter_never_drops_matches():
    """Property: any string matching the pattern contains the literal
    (case-insensitively)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logeventprocessor_spark.operators.match import prefilter_literal
    from logeventprocessor_spark.rules import canonical_rules, document_rules

    rules = canonical_rules() + document_rules()
    pats = [(re.compile(r.pattern, re.IGNORECASE), prefilter_literal(r.pattern))
            for r in rules]

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=st.characters(codec="ascii"), max_size=80))
    def check(s):
        for pat, lit in pats:
            if lit is not None and pat.search(s):
                assert lit in s.lower()

    check()


def test_prefilter_optional_group_guard():
    from logeventprocessor_spark.operators.match import prefilter_literal

    assert prefilter_literal(r"(abc)?defg") is None  # abc is optional
    assert prefilter_literal(r"(?:abcd)*xy") is None


def test_prefilter_classes_and_escapes_are_not_literals():
    """Regression for round-1 ADVICE: \\b/\\d/\\s/\\w and [...] class
    contents must never be treated as required literal text."""
    from logeventprocessor_spark.operators.match import prefilter_literal

    # \b is an opaque atom, NOT the letter 'b' (was: 'berror')
    assert prefilter_literal(r"\berror\b") == "error"
    # a [...] class contributes nothing (was: 'a-z'); 'x ' too short
    assert prefilter_literal(r"x ([a-z]+)") is None
    # runs around a class survive; class contents never leak
    assert prefilter_literal(r"id [A-Za-z0-9]+ okay") == " okay"
    # \d / \s / \w are opaque atoms that split runs
    assert prefilter_literal(r"code \d+ failed") == " failed"
    assert prefilter_literal(r"\w+ login\sdone") == " login"
    # class with an escaped ']' inside is skipped correctly
    assert prefilter_literal(r"tag [\]a-z]+ endtag") == " endtag"
    # {m,n} digits are repeat counts, not literals
    assert prefilter_literal(r"ab{1234}cd") is None
    # unrecognized syntax -> give up, never guess
    assert prefilter_literal("broken [a-z") is None
    assert prefilter_literal("trail\\") is None
    assert prefilter_literal("(?i)something") is None


def test_prefilter_adversarial_end_to_end():
    """Any string matching the regex must contain the claimed literal
    (else match_turns silently drops matching rows)."""
    import re as _re

    from logeventprocessor_spark.operators.match import prefilter_literal

    cases = [
        (r"\berror\b", ["an error here", "ERROR!", "no terrors"]),
        (r"x ([a-z]+)", ["x abc", "prefix x zz"]),
        (r"id [A-Za-z0-9]+ okay", ["id A9 okay now"]),
        (r"user\d{3} logged", ["user123 logged in"]),
        (r"[Ee]rror: #?\d+", ["Error: 42", "error: #7"]),
        (r"\s*status\s*=\s*\d+", ["  status = 200"]),
        (r"a{2,5}bcd", ["xaaabcdx"]),
    ]
    for pattern, samples in cases:
        pat = _re.compile(pattern, _re.IGNORECASE)
        lit = prefilter_literal(pattern)
        for s in samples:
            if pat.search(s):
                assert lit is None or lit in s.lower(), (pattern, lit, s)


def test_compiled_cache_keeps_two_rule_sets():
    """Hot-reload alternates rule sets per micro-batch; both must stay
    compiled (no per-batch recompile)."""
    from logeventprocessor_spark.operators import match as M
    from logeventprocessor_spark.rules import Rule

    set_a = M._rules_payload([Rule("a", 0, "aaa")])
    set_b = M._rules_payload([Rule("b", 0, "bbb")])
    M._COMPILED_CACHE.clear()
    ca1 = M._compiled(set_a)
    cb1 = M._compiled(set_b)
    assert M._compiled(set_a) is ca1
    assert M._compiled(set_b) is cb1
    assert set(M._COMPILED_CACHE) == {set_a, set_b}
    # a third set evicts the least recently used (set_a)
    set_c = M._rules_payload([Rule("c", 0, "ccc")])
    M._compiled(set_b)  # refresh b
    M._compiled(set_c)
    assert set_a not in M._COMPILED_CACHE
    assert set_b in M._COMPILED_CACHE and set_c in M._COMPILED_CACHE

"""Rule model, template->regex compilation, and YAML rule loading.

Semantics re-expressed from the reference (cited file:line are inside
/root/reference/):

* A rule is ``(name, pattern, cooldown_ms, enabled)`` plus an ORDERED
  list of action steps ``(type, value, modifiers, delay_ms, enabled)``
  -- ``LogEventProcessor/RegexMatcher.h:14-24`` and
  ``LogEventProcessor/ActionManager.h:18-32``.
* Rules match in DEFINITION ORDER ("Iterate rules in index order to
  keep deterministic", ``ActionManager.cpp:126``) -> we materialize
  ``rule_idx``.
* Config patterns may be TEMPLATES: every ``#`` becomes the capture
  group ``([^\\s]+)`` and doubled backslashes collapse to single
  (``ConfigManager.cpp:203-226``).
* Matching is case-insensitive, unanchored *search* (ECMAScript
  ``regex_search`` with ``icase``, ``RegexMatcher.cpp:69`` and ``:109``)
  -> Python ``re.search`` + ``re.IGNORECASE``.

This module is pure driver-side Python: a rule set is loaded once per
query, or once per micro-batch under hot reload
(``streaming.pipeline.start_pipeline`` given a rules path); nothing here
touches Spark executors except through the broadcast rule list.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

ALLOWED_ACTION_TYPES = frozenset(
    # keystroke/command/text/sms per ActionManager.cpp:231-266; "spell"
    # and "email" additionally allowed by the config editor
    # (tools/ConfigEditor/Services/ValidationService.cs:20-23).
    {"keystroke", "command", "text", "sms", "spell", "email"}
)


@dataclass(frozen=True)
class RuleStep:
    """One ordered action step of a rule (ActionManager.h:18-32)."""

    step_idx: int
    type: str
    value: str
    modifiers: int = 0
    delay_ms: int = 0
    enabled: bool = True


@dataclass(frozen=True)
class Rule:
    """A compiled match rule (RegexMatcher.h:14-24).

    ``pattern`` is the POST-template-compile regex (i.e. ``#`` already
    expanded). ``rule_idx`` is the definition-order index that drives
    deterministic match ordering.
    """

    rule_id: str
    rule_idx: int
    pattern: str
    cooldown_ms: int = 0
    enabled: bool = True
    steps: tuple[RuleStep, ...] = field(default_factory=tuple)

    @property
    def n_groups(self) -> int:
        return re.compile(self.pattern).groups


class RuleValidationError(ValueError):
    pass


def collapse_double_backslashes(s: str) -> str:
    """``\\\\`` -> ``\\`` (ConfigManager.cpp:219-226)."""
    return s.replace("\\\\", "\\")


def template_to_regex(template: str) -> str:
    """Compile a ``#``-template into a regex (ConfigManager.cpp:203-218).

    Every ``#`` becomes ``([^\\s]+)`` (capture one run of non-space);
    doubled backslashes collapse first so YAML-escaped patterns like
    ``.*\\\\[ERROR\\\\].*`` arrive as ``.*\\[ERROR\\].*``.
    """
    s = collapse_double_backslashes(template)
    return s.replace("#", r"([^\s]+)")


def validate_rules(rules: list[Rule]) -> list[Rule]:
    """Reject configs the reference's editor would reject
    (tools/ConfigEditor/Services/ValidationService.cs:20-148):
    duplicate names, uncompilable regexes, negative cooldown/delay,
    unknown action types.
    """
    seen: set[str] = set()
    for r in rules:
        if r.rule_id in seen:
            raise RuleValidationError(f"duplicate rule name: {r.rule_id!r}")
        seen.add(r.rule_id)
        try:
            re.compile(r.pattern)
        except re.error as e:
            raise RuleValidationError(
                f"rule {r.rule_id!r}: bad regex {r.pattern!r}: {e}"
            ) from e
        if r.cooldown_ms < 0:
            raise RuleValidationError(f"rule {r.rule_id!r}: cooldown_ms < 0")
        for s in r.steps:
            if s.type not in ALLOWED_ACTION_TYPES:
                raise RuleValidationError(
                    f"rule {r.rule_id!r} step {s.step_idx}: bad type {s.type!r}"
                )
            if s.delay_ms < 0:
                raise RuleValidationError(
                    f"rule {r.rule_id!r} step {s.step_idx}: delay_ms < 0"
                )
    return rules


def load_rules_yaml(path: str) -> list[Rule]:
    """Load a rule set from a YAML file shaped like the reference's
    ``regex_rules:`` section (ConfigManager.cpp:161-443): each rule has
    ``name/pattern/cooldown_ms/enabled`` and either a flat
    ``action_type/action_value/modifiers`` single step or a nested
    ``actions:`` step list with ``type/value/modifiers/delay_ms/enabled``.
    """
    import yaml

    with open(path) as f:
        doc = yaml.safe_load(f) or {}
    raw_rules = doc.get("regex_rules") or []
    rules: list[Rule] = []
    for idx, raw in enumerate(raw_rules):
        steps: list[RuleStep] = []
        if "actions" in raw and raw["actions"]:
            for sidx, st in enumerate(raw["actions"]):
                steps.append(
                    RuleStep(
                        step_idx=sidx,
                        type=str(st.get("type", "keystroke")).strip().lower(),
                        value=str(st.get("value", "")),
                        modifiers=int(st.get("modifiers", 0)),
                        delay_ms=int(st.get("delay_ms", 0)),
                        enabled=bool(st.get("enabled", True)),
                    )
                )
        elif "action_type" in raw:
            steps.append(
                RuleStep(
                    step_idx=0,
                    type=str(raw.get("action_type", "keystroke")).strip().lower(),
                    value=str(raw.get("action_value", "")),
                    modifiers=int(raw.get("modifiers", 0)),
                    delay_ms=int(raw.get("delay_ms", 0)),
                    enabled=True,
                )
            )
        rules.append(
            Rule(
                rule_id=str(raw["name"]),
                rule_idx=idx,
                pattern=template_to_regex(str(raw["pattern"])),
                cooldown_ms=int(raw.get("cooldown_ms", 0)),
                enabled=bool(raw.get("enabled", True)),
                steps=tuple(steps),
            )
        )
    return validate_rules(rules)


def publish_rules(path: str, yaml_text: str) -> None:
    """Atomically replace the watched rules file: write to a pid-
    suffixed temp name in the same directory, then ``os.replace``.
    This is the WRITER half of the hot-reload contract (the Spark
    analog of the reference's mutex-guarded swap, main.cpp:202-223):
    with atomic publication the reader -- ``start_pipeline``'s driver,
    which loads the file once per micro-batch -- can never observe a
    half-written rule set, only the old or the new complete version,
    and the whole batch (match, cooldown, steps) runs on the version it
    loaded."""
    import os

    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(yaml_text)
    os.replace(tmp, path)


def canonical_rules() -> list[Rule]:
    """The canonical rule corpus from the reference's own configs
    (FIXTURES.md section 3; config.yaml:22-48 and
    test_config_1757630676.yaml:6-26). Golden fixtures derive from
    these.
    """
    rules = [
        Rule(
            "hello_world_response",
            0,
            template_to_regex(".*hello # world.*"),
            steps=(RuleStep(0, "command", "g # Goodbye"),),
        ),
        Rule(
            "attack_minions",
            1,
            ".*Attack my minions.*",
            steps=(
                RuleStep(0, "keystroke", "Ctrl + 1", modifiers=2, delay_ms=2500),
                RuleStep(1, "command", "g at delaying"),
            ),
        ),
        Rule("test", 2, ".*clarice.*", steps=(RuleStep(0, "keystroke", "g woot"),)),
        Rule(
            "email_test",
            3,
            ".*email test.*",
            steps=(RuleStep(0, "email", "Test email from EQ Log Automator"),),
        ),
        Rule(
            "error_detection",
            4,
            template_to_regex(".*\\\\[ERROR\\\\].*"),
            steps=(RuleStep(0, "keystroke", "f1"),),
        ),
        Rule(
            "user_login",
            5,
            r".*User login: ([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}).*",
            steps=(RuleStep(0, "text", "Welcome!"),),
        ),
        Rule(
            "sms_tell",
            6,
            r"([^\s]+) tells you, '(.+)'",
            steps=(RuleStep(0, "sms", ""),),
        ),
        # cooldown variant (FIXTURES.md section 3, last row): exercises
        # the keyed-state suppression operator (ActionManager.cpp:96-110)
        Rule(
            "spam_guard",
            7,
            ".*spam ping.*",
            cooldown_ms=5000,
            steps=(RuleStep(0, "command", "ack spam"),),
        ),
        # SECOND cooldown rule (round-4 verdict task #5): a different
        # cooldown length + group(1) extraction + '#' substitution, so
        # the flagship fixture exercises >=2 concurrent cooldown keys
        # per conversation and the oracle's greedy chain must be
        # per-(conv, rule), not single-rule. The reference's cooldown
        # map is keyed per rule exactly like this
        # (ActionManager.cpp:96-110 -- cooldowns[rule.name]).
        Rule(
            "rate_guard",
            8,
            r".*rate limit exceeded on ([a-z_]+).*",
            cooldown_ms=4000,
            steps=(RuleStep(0, "command", "throttle #"),),
        ),
        # NO-LITERAL rule (round-5 verdict task #9): a pure
        # character-class pattern defeats the literal prefilter
        # (prefilter_literal -> None), so the flagship corpus
        # exercises the match operator's RE2 candidate mask end to
        # end. The JVM-side candidate gate survives via the safe-subset
        # RLIKE branch of prefilter_condition (the pattern is
        # dialect-identical in Java, RE2, and Python re). extracted =
        # group(0), the leftmost 6-digit run.
        Rule(
            "pin_code",
            9,
            r"[0-9]{6}",
            steps=(RuleStep(0, "command", "redact #"),),
        ),
    ]
    return validate_rules(rules)


def document_rules() -> list[Rule]:
    """A rule corpus whose patterns fire on the driver's synthetic
    ``documents`` table (word-salad over a small OLAP vocabulary).
    Used by the DuckDB-oracled CEP queries so the match operator gets
    checked on driver-owned data, not only on our own generator.

    Patterns are dialect-safe (identical semantics in Python ``re``,
    Java regex via ``RLIKE``, and RE2 via DuckDB ``regexp_*``).
    """
    rules = [
        Rule(
            "spark_next",
            0,
            template_to_regex("spark # window"),  # -> spark ([^\s]+) window
            steps=(RuleStep(0, "command", "g # noted"),),
        ),
        Rule(
            "merge_batch",
            1,
            "merge batch",
            steps=(
                RuleStep(0, "keystroke", "f2", delay_ms=1000),
                RuleStep(1, "command", "compact now"),
            ),
        ),
        Rule(
            "customer_query",
            2,
            r"customer ([a-z]+) query",
            steps=(RuleStep(0, "text", "seen: #"),),
        ),
        Rule("big_table", 3, "big table", steps=(RuleStep(0, "sms", ""),)),
    ]
    return validate_rules(rules)


def rules_with_cooldown(rules: list[Rule], cooldown_ms: int) -> list[Rule]:
    """Copy of a rule list with every cooldown set (test helper)."""
    return [replace(r, cooldown_ms=cooldown_ms) for r in rules]

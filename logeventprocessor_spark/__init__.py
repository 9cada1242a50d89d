"""logeventprocessor_spark — a from-scratch PySpark-native CEP engine.

Re-expresses the query semantics of the reference system
(feldmannjacob/LogEventProcessor, a single-node C++ streaming
regex-rule CEP engine) as an idiomatic PySpark DataFrame /
Structured Streaming engine over conversation-transcript event
streams:

    (conv_id: string, turn_idx: int, role: string,
     text: string, tool: string, ts: timestamp)

Each turn is a log event; each regex rule is a streaming match
operator. See SURVEY.md for the full operator inventory and the
file:line citations into the reference.
"""

__version__ = "0.1.0"

from logeventprocessor_spark import zipcache as _zipcache

# Python workers import this package when they unpickle its UDFs, so
# this installs the cache in every reused worker (see zipcache.py).
_zipcache.install()

from logeventprocessor_spark.rules import (  # noqa: F401
    Rule,
    RuleStep,
    canonical_rules,
    document_rules,
    load_rules_yaml,
    template_to_regex,
)

"""lyra_spark — a from-scratch, PySpark-native schema + constraint validation engine.

Reproduces the validator semantics of MonkeyDev676/lyra (a Joi-style JS object-schema
validation library: type coercion, required/nullable, string pattern, enum membership,
range, custom predicate rules) re-expressed set-at-a-time as compiled Catalyst Column
expressions over DataFrames of conversation transcripts, plus the dataset-level checks
the web-scale spec adds (column stats, uniqueness, referential integrity, monotone
ordering, distribution drift via mergeable sketches).

NOTE on reference citations: the reference checkout at /root/reference/ is empty in
this sandbox (verified in SURVEY.md §0), so no file:line citations into it are
possible. Semantics derive from BASELINE.json:6,14,15 (authoritative) and recalled
public lyra API shape (builder rules + validate() → {value, errors}).

Design stance (SURVEY.md §7): every check is a Catalyst Column expression or a
built-in aggregate; pandas/Arrow UDFs only where the contract demands extensibility
(custom predicates). Never per-row Python.
"""

from lyra_spark.rules import (  # noqa: F401
    RuleSet,
    cast,
    conditional,
    custom,
    default,
    deny,
    enum,
    forbidden,
    integer,
    length,
    multiple_of,
    nonempty,
    pattern,
    range_rule,
    required,
    transform,
)
from lyra_spark.engine import ValidationResult, validate  # noqa: F401
from lyra_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"

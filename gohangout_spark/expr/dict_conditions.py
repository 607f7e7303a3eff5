"""Condition DSL evaluated against plain Python dicts (driver-side).

The reference evaluates the SAME condition language in two places: per-event
inside the pipeline (condition_filter/filter.go) and against ES node-info
maps during sniffing (output/elasticsearch_output.go:479-489 builds a
condition_filter and calls Pass(node)). The pipeline path compiles to Spark
Columns (expr.conditions); this module is the dict-shaped twin for
driver-side uses like sniff `match` — same tokenizer, same predicate
surface, evaluated eagerly.
"""

from __future__ import annotations

import operator
import re

from gohangout_spark.expr.conditions import (
    ConditionSyntaxError,
    _literal,
    _path_of,
    _split_args,
    shunting_yard,
)
from gohangout_spark.expr.paths import parse_field


def _dict_get(obj, path: str):
    cur = obj
    for seg in parse_field(path):
        if isinstance(seg, int):
            if not isinstance(cur, (list, tuple)) or seg >= len(cur):
                return None, False
            cur = cur[seg]
        else:
            if not isinstance(cur, dict) or seg not in cur:
                return None, False
            cur = cur[seg]
    return cur, True


def _eval_pred(text: str, obj) -> bool:
    name, argstr = text.split("(", 1)
    args = _split_args(argstr[:-1])

    if name == "Exist":
        return _dict_get(obj, _path_of(args))[1]
    if name in ("EQ", "IN", "HasPrefix", "HasSuffix", "Contains", "ContainsAny", "Match"):
        if len(args) < 2:
            raise ConditionSyntaxError(f"{name} needs path and value: {text}")
        path, val = _path_of(args[:-1]), _literal(args[-1])
        v, found = _dict_get(obj, path)
        if name == "EQ":
            if val is None:
                return found and v is None
            if isinstance(val, (int, float)) and isinstance(v, (int, float)):
                return float(v) == float(val)
            return v == val
        if name == "IN":
            return isinstance(v, (list, tuple)) and val in v
        if not isinstance(v, str):
            return False
        sval = val if isinstance(val, str) else str(val)
        if name == "HasPrefix":
            return v.startswith(sval)
        if name == "HasSuffix":
            return v.endswith(sval)
        if name == "Contains":
            return sval in v
        if name == "ContainsAny":
            return any(ch in v for ch in sval)
        return re.search(sval, v) is not None  # Match
    raise ConditionSyntaxError(
        f"predicate {name!r} not supported in dict conditions (sniff match)"
    )


# every predicate evaluates to a bool, so the bitwise operators are exact
_BOOL_OPS = {"!": operator.not_, "&&": operator.and_, "||": operator.or_}


def evaluate_condition(s: str, obj) -> bool:
    """Evaluate one boolean-DSL condition string against a dict."""
    return shunting_yard(s, lambda text: _eval_pred(text, obj), _BOOL_OPS)

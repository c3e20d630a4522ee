"""Multi-strategy LLM-response parsing (SURVEY.md §2.2 P11).

The reference parses model output as JSON with cascading fallbacks
(enhance_scoring.py:282-340, enhance_fields_of_study.py:119-128,
enhance_keywords.py:239-270): strip ```json fences → parse → regex
extract a JSON object/array → per-key regex → line-based extraction.

The fast path (`parsed_json_col`) is a pure ``from_json`` expression;
the full cascade is inherently procedural, so it is one well-tested
Python function, called per row inside the enrichment partitions
(enrich/enhance.py).
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

_FENCE = re.compile(r"^\s*```(?:json)?\s*|\s*```\s*$", re.MULTILINE)
_OBJ = re.compile(r"\{.*\}", re.DOTALL)
_ARR = re.compile(r"\[.*\]", re.DOTALL)
_KV_NUM = re.compile(r'"?([A-Za-z_][A-Za-z0-9_]*)"?\s*[:=]\s*([-+]?\d+\.?\d*)')


def strip_fences(text: str) -> str:
    return _FENCE.sub("", text).strip()


def parse_llm_json(text: str | None) -> dict[str, Any] | list[Any] | None:
    """The four-level cascade. Returns None only when nothing parses."""
    if not text:
        return None
    cleaned = strip_fences(text)
    # 1. direct parse
    try:
        return json.loads(cleaned)
    except (json.JSONDecodeError, ValueError):
        pass
    # 2. regex-extract the outermost object / array
    for pat in (_OBJ, _ARR):
        m = pat.search(cleaned)
        if m:
            try:
                return json.loads(m.group(0))
            except (json.JSONDecodeError, ValueError):
                continue
    # 3. per-key numeric pairs ("novelty": 8)
    pairs = _KV_NUM.findall(cleaned)
    if pairs:
        out: dict[str, Any] = {}
        for key, num in pairs:
            out[key] = float(num) if "." in num else int(num)
        return out
    # 4. line-based: "- item" bullet lists → array of strings
    items = [
        line.strip("-* \t")
        for line in cleaned.splitlines()
        if line.strip().startswith(("-", "*"))
    ]
    if items:
        return items
    return None


def parsed_json_col(col: Column, schema: str) -> Column:
    """Fast path: strip fences with regexp, then from_json (JVM-side)."""
    cleaned = F.regexp_replace(col, r"^\s*```(?:json)?\s*|\s*```\s*$", "")
    return F.from_json(F.trim(cleaned), schema)

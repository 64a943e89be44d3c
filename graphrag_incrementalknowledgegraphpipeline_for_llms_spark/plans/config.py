"""Reference-shaped configuration: a minimal HOCON-subset loader and
the mapping from the reference's ``application.conf`` keys to this
engine's parameters.

A reference user configures the job through HOCON blocks
(``application.conf``: flink/ollama/neo4j/relation/concept — see
SURVEY.md §3.1); this module lets them bring that file unchanged.
Only the HOCON subset the reference file actually uses is parsed:
nested ``name { }`` blocks, ``key = value`` scalars
(bool/int/float/string), ``[..]`` string lists, ``#``/``//``
comments.  Substitutions/includes are not supported (the reference
uses none).

Key mapping (reference -> engine):

* ``concept.strategies.nlp``        -> ``extraction_strategy="nlp"``
* ``flink.parallelism``             -> ``scan_partitions`` hint
* ``relation.llm.min-confidence``, ``relation.llm.predicate-set``,
  ``relation.cooccur.min-pmi``, ``ollama.*``,
  ``concept.strategies.llm``, ``neo4j.batch-size`` etc. -> accepted
  (kept in ``PipelineConfig.raw``) but unused: the pipeline scores
  pairs with the fixed rule scorer and no PMI filter, and the catalog
  sink commits snapshots, not bolt transactions.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_COMMENT_RE = re.compile(r"(?<!:)(//|#).*$")


def _coerce(v: str):
    v = v.strip().rstrip(",")
    if v.startswith("[") and v.endswith("]"):
        inner = v[1:-1].strip()
        return [] if not inner else [_coerce(x) for x in inner.split(",")]
    if (v.startswith('"') and v.endswith('"')) or (v.startswith("'") and v.endswith("'")):
        return v[1:-1]
    if v in ("true", "false"):
        return v == "true"
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        pass
    return v


def parse_hocon_min(text: str) -> dict:
    """Parse the HOCON subset described in the module docstring into
    nested dicts."""
    root: dict = {}
    stack = [root]
    for raw in text.splitlines():
        # strip comments, but not inside quotes (the reference file
        # never puts # inside values other than URLs after '=')
        line = raw.strip()
        if not line:
            continue
        if line.startswith(("#", "//")):
            continue
        if '"' not in line and "'" not in line:
            line = _COMMENT_RE.sub("", line).strip()
            if not line:
                continue
        if line.endswith("{"):
            name = line[:-1].strip()
            node: dict = {}
            stack[-1][name] = node
            stack.append(node)
        elif line == "}":
            if len(stack) == 1:
                raise ValueError("unbalanced '}' in config")
            stack.pop()
        elif "=" in line:
            key, _, val = line.partition("=")
            # strip trailing comments from unquoted scalar values
            if '"' in val or "'" in val:
                # keep quoted value intact, drop anything after the
                # closing quote
                m = re.match(r"""\s*(["'])(.*?)\1""", val)
                if m:
                    val = f"{m.group(1)}{m.group(2)}{m.group(1)}"
            else:
                val = _COMMENT_RE.sub("", val)
            stack[-1][key.strip()] = _coerce(val)
    if len(stack) != 1:
        raise ValueError("unbalanced '{' in config")
    return root


def _get(d: dict, path: str, default=None):
    cur = d
    for p in path.split("."):
        if not isinstance(cur, dict) or p not in cur:
            return default
        cur = cur[p]
    return cur


@dataclass
class PipelineConfig:
    extraction_strategy: str = "heuristic"
    scan_partitions: int | None = None
    raw: dict = field(default_factory=dict)

    @classmethod
    def from_conf(cls, conf: dict) -> "PipelineConfig":
        strategy = "heuristic"
        if _get(conf, "concept.strategies.nlp", False):
            strategy = "nlp"
        return cls(
            extraction_strategy=strategy,
            scan_partitions=_get(conf, "flink.parallelism"),
            raw=conf,
        )


def load_config(path: str) -> PipelineConfig:
    with open(path) as f:
        return PipelineConfig.from_conf(parse_hocon_min(f.read()))


def pipeline_kwargs(cfg: PipelineConfig) -> dict:
    """Keyword arguments for :func:`plans.pipeline.run_pipeline`."""
    out: dict = {"extraction_strategy": cfg.extraction_strategy}
    if cfg.scan_partitions:
        out["scan_partitions"] = cfg.scan_partitions
    return out

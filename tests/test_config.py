"""HOCON-subset config loader: parse + key mapping parity with the
reference's application.conf structure (SURVEY.md §3.1)."""

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import config as C

FIXTURE = """
# GraphRAG Pipeline Configuration
flink {
  parallelism = 4
  checkpoint-interval-ms = 60000
  input {
    path = "phase1/chunks.jsonl"   # trailing comment
    format = "jsonl"
  }
}

ollama {
  endpoint = "http://127.0.0.1:11434"
  model = "tinyllama:latest"  // alt comment style
  temperature = 0.0
  timeout-ms = 60000
  max-retries = 3
}

relation {
  cooccur {
    window = 3
    min-pmi = 0.25
  }
  llm {
    predicate-set = ["is_a", "part_of", "causes", "synonym_of", "related_to"]
    min-confidence = 0.7
  }
}

concept {
  min-length = 2
  strategies {
    heuristic = true
    nlp = true
    llm = false
  }
}
"""


def test_parse_nested_blocks():
    d = C.parse_hocon_min(FIXTURE)
    assert d["flink"]["parallelism"] == 4
    assert d["flink"]["input"]["path"] == "phase1/chunks.jsonl"
    assert d["ollama"]["endpoint"] == "http://127.0.0.1:11434"
    assert d["ollama"]["model"] == "tinyllama:latest"
    assert d["relation"]["cooccur"]["min-pmi"] == 0.25
    assert d["relation"]["llm"]["predicate-set"] == [
        "is_a", "part_of", "causes", "synonym_of", "related_to"
    ]
    assert d["concept"]["strategies"]["nlp"] is True
    assert d["concept"]["strategies"]["llm"] is False


def test_mapping_to_engine_params(tmp_path):
    p = tmp_path / "application.conf"
    p.write_text(FIXTURE)
    cfg = C.load_config(str(p))
    assert cfg.extraction_strategy == "nlp"
    assert cfg.scan_partitions == 4
    # keys the engine does not use stay readable in ``raw``
    assert cfg.raw["relation"]["llm"]["min-confidence"] == 0.7
    assert cfg.raw["ollama"]["model"] == "tinyllama:latest"
    kw = C.pipeline_kwargs(cfg)
    assert kw == {"extraction_strategy": "nlp", "scan_partitions": 4}


def test_defaults_for_missing_keys():
    cfg = C.PipelineConfig.from_conf({})
    assert cfg.extraction_strategy == "heuristic"
    assert cfg.scan_partitions is None
    assert C.pipeline_kwargs(cfg) == {"extraction_strategy": "heuristic"}


def test_unbalanced_braces_raise():
    import pytest

    with pytest.raises(ValueError):
        C.parse_hocon_min("a {\n b = 1\n")

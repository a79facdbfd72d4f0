"""Answer-prompt assembly: byte parity with the reference's prompt chain."""

from __future__ import annotations

import importlib.util
import os

import pytest

from mmgraphrag_spark.functions import prompt_templates as T
from mmgraphrag_spark.operators import answer
from mmgraphrag_spark.operators.query_ctx import list_of_list_to_csv

REF_PROMPT_PY = "/root/reference/mmgraphrag/prompt.py"


@pytest.fixture(scope="module")
def ref_prompts():
    if not os.path.exists(REF_PROMPT_PY):
        pytest.skip("reference fixtures not present")
    spec = importlib.util.spec_from_file_location("ref_prompt", REF_PROMPT_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.PROMPTS


@pytest.mark.parametrize(
    "ours, key",
    [
        (T.LOCAL_RAG_RESPONSE_AUGMENTED, "local_rag_response_augmented"),
        (T.LOCAL_RAG_RESPONSE_MULTIMODAL, "local_rag_response_multimodal"),
        (T.LOCAL_RAG_RESPONSE_MULTIMODAL_MERGE, "local_rag_response_multimodal_merge"),
        (T.LOCAL_RAG_RESPONSE_MERGE, "local_rag_response_merge"),
        (T.FAIL_RESPONSE, "fail_response"),
    ],
)
def test_templates_are_byte_identical_to_reference(ref_prompts, ours, key):
    assert ours == ref_prompts[key]


def test_assembled_prompts_match_reference_formatting(ref_prompts):
    """Golden: filling OUR templates through OUR assemblers equals filling
    the REFERENCE templates the way query.py:402-466 does, on the same
    context."""
    context = "-----Entities-----\n```csv\nid,\tentity\n```"
    rt = "Multiple Paragraphs"
    assert answer.augmented_prompt(context, rt) == ref_prompts[
        "local_rag_response_augmented"
    ].format(context_data=context, response_type=rt)

    got = answer.multimodal_prompt(context, "a caption", "a footnote", rt)
    want = ref_prompts["local_rag_response_multimodal"].format(
        context_data=context, response_type=rt,
        image_information="a caption, a footnote",
    )
    assert got == want

    mm = ["resp one", "resp two"]
    assert answer.multimodal_merge_prompt(mm) == ref_prompts[
        "local_rag_response_multimodal_merge"
    ].format(mm_responses=mm)

    assert answer.final_merge_prompt("mm ans", "text ans", rt) == ref_prompts[
        "local_rag_response_merge"
    ].format(response_type=rt, mm_response="mm ans", response="text ans")


def test_mm_entity_scrape_matches_reference_loop():
    """The ORI_IMG scrape (query.py:414-421): third CSV cell == ORI_IMG,
    lowercased, truncated to number_of_mmentities."""
    rows = [
        ["id", "entity", "type", "description", "rank"],
        [0, "ALPHA", "CONCEPT", "d", 3],
        [1, "DOC1/IMAGE_1", "ORI_IMG", "d", 2],
        [2, "BETA", "TERM", "d", 2],
        [3, "DOC2/IMAGE_1", "ORI_IMG", "d", 1],
        [4, "DOC3/IMAGE_9", "ORI_IMG", "d", 1],
    ]
    csv = list_of_list_to_csv(rows)
    got = answer.mm_entities_from_context(csv, limit=2)
    assert got == ["doc1/image_1", "doc2/image_1"]

    # reference loop, verbatim semantics
    img_entities = []
    for line in csv.split("\n")[1:]:
        parts = line.split(",")
        if len(parts) >= 3 and parts[2].strip().strip('"') == "ORI_IMG":
            img_entities.append(parts[1].strip().strip('"'))
    assert got == [e.lower() for e in img_entities][:2]


def test_assemble_answer_chain_end_to_end():
    ents_csv = list_of_list_to_csv([
        ["id", "entity", "type", "description", "rank"],
        [0, "D1/IMAGE_1", "ORI_IMG", "d", 5],
        [1, "GAMMA", "TERM", "d", 1],
    ])
    chain = answer.assemble_answer_chain(
        context="CTX", entities_context=ents_csv,
        media_info={"d1/image_1": ("cap", "foot")},
    )
    assert chain["mm_entities"] == ["d1/image_1"]
    assert len(chain["multimodal"]) == 1
    assert "cap, foot" in chain["multimodal"][0]
    assert chain["needs_merge"] is True
    assert "CTX" in chain["augmented"]


def test_media_info_for_is_bounded_on_many_media(spark):
    """Scale guard: the answer chain must never collect the full media
    relation — `media_info_for` filters to the ≤NUM_MM_ENTITIES scraped
    names BEFORE collecting, so a 1000-image corpus yields ≤limit rows on
    the driver."""
    rows = [("d%d" % i, "D%d/IMAGE_1" % i, "caption %d" % i, i)
            for i in range(1000)]
    med = spark.createDataFrame(
        rows, "doc_id string, media_ref string, context string, media_offset int"
    )
    ents = ["d7/image_1", "d42/image_1"]
    assert len(ents) <= T.NUM_MM_ENTITIES
    info = answer.media_info_for(med, ents)
    assert len(info) == 2  # << 1000: the collect was filtered, not full
    assert info["d7/image_1"] == ("caption 7", "")
    assert info["d42/image_1"] == ("caption 42", "")
    # no scraped entities -> no Spark job at all
    assert answer.media_info_for(med, []) == {}


def test_api_local_answer_prompts_end_to_end(spark):
    """The whole query lifecycle on the tiny corpus: context renders, the
    augmented prompt embeds it, ORI_IMG entities (if any ranked into the
    seed set) resolve to media captions for the mm prompts."""
    from conftest import SF_TINY

    from mmgraphrag_spark import api

    out = api.local_answer_prompts(spark, SF_TINY)
    assert out["context"].count("```csv") == 3
    assert out["context"] in out["augmented"]
    assert isinstance(out["mm_entities"], list)
    assert out["needs_merge"] == bool(out["multimodal"])
    for p in out["multimodal"]:
        assert out["context"] in p

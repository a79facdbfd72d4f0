"""Query-time answer-prompt assembly — the reference's final deliverable.

The reference's local query path renders the context CSV, then fills a chain
of system prompts around the LLM calls
(/root/reference/mmgraphrag/query.py:395-470):

1. ``local_rag_response_augmented`` ← (context, response_type): the text-LLM
   system prompt;
2. ORI_IMG entities are scraped from the entities CSV (query.py:414-421),
   lowercased, truncated to ``number_of_mmentities``;
3. per selected image, ``local_rag_response_multimodal`` ← (context,
   response_type, "{caption}, {footnote}");
4. ``local_rag_response_multimodal_merge`` ← the list of mm responses;
5. ``local_rag_response_merge`` ← (response_type, merged mm response, text
   response).

This module assembles every one of those strings deterministically (the LLM
calls themselves are the production swap point, exactly like the extractor):
a reference user can hand these to their model client unchanged. Driver-side
by design — inputs are the already-budget-truncated context (tens of rows)
and a handful of response strings; this is the serialization boundary, the
same tier as query_ctx.context_blocks.
"""

from __future__ import annotations

from ..config import DEFAULT, PipelineConfig
from ..functions import prompt_templates as T
from .query_ctx import local_context, wrap_context


def media_info_for(media_df, ents: list[str]) -> dict[str, tuple[str, str]]:
    """Bounded image-info lookup: filter the media relation to the ≤
    ``NUM_MM_ENTITIES`` scraped ORI_IMG names BEFORE collecting, so the
    driver only ever materializes the handful of rows the prompt chain can
    use (the reference reads these from its kv_store_image_data dict,
    query.py:423-437). ``ents`` are already-lowercased entity names; the
    join key is lower(media_ref). Returns {name: (caption, footnote)}.

    An unfiltered ``media_df.collect()`` here would pull the whole corpus's
    media contexts through the driver at scale — this helper is the only
    sanctioned collect in the answer chain.
    """
    if not ents:
        return {}
    from pyspark.sql import functions as F

    rows = (
        media_df.select("media_ref", "context")
        .filter(F.lower("media_ref").isin(list(ents)))
        .collect()
    )
    return {r.media_ref.lower(): (r.context, "") for r in rows}


def augmented_prompt(
    context: str, response_type: str = T.DEFAULT_RESPONSE_TYPE
) -> str:
    """Step 1: the text-LLM system prompt (query.py:402-405)."""
    return T.LOCAL_RAG_RESPONSE_AUGMENTED.format(
        context_data=context, response_type=response_type
    )


def mm_entities_from_context(
    entities_context: str, limit: int = T.NUM_MM_ENTITIES
) -> list[str]:
    """Step 2: ORI_IMG entity names scraped from the entities CSV block —
    the reference's line/comma parse verbatim in behavior (query.py:414-421):
    split lines after the header, take rows whose THIRD cell is ORI_IMG,
    lowercase, truncate to ``limit``."""
    out = []
    for line in entities_context.split("\n")[1:]:
        parts = line.split(",")
        if len(parts) >= 3 and parts[2].strip().strip('"') == "ORI_IMG":
            out.append(parts[1].strip().strip('"'))
    return [e.lower() for e in out][:limit]


def multimodal_prompt(
    context: str,
    caption: str,
    footnote: str,
    response_type: str = T.DEFAULT_RESPONSE_TYPE,
) -> str:
    """Step 3: one mm-LLM system prompt per selected image; the image
    information string is the reference's f"{caption}, {footnote}"
    (query.py:440-449)."""
    return T.LOCAL_RAG_RESPONSE_MULTIMODAL.format(
        context_data=context,
        response_type=response_type,
        image_information=f"{caption}, {footnote}",
    )


def multimodal_merge_prompt(mm_responses: list[str]) -> str:
    """Step 4: merge prompt over the list of mm responses — the reference
    formats the Python list repr into the template (query.py:458)."""
    return T.LOCAL_RAG_RESPONSE_MULTIMODAL_MERGE.format(mm_responses=mm_responses)


def final_merge_prompt(
    mm_response: str,
    response: str,
    response_type: str = T.DEFAULT_RESPONSE_TYPE,
) -> str:
    """Step 5: the final text-LLM merge prompt (query.py:464-466)."""
    return T.LOCAL_RAG_RESPONSE_MERGE.format(
        response_type=response_type, mm_response=mm_response, response=response
    )


def assemble_answer_chain(
    context: str,
    entities_context: str,
    media_info: dict[str, tuple[str, str]],
    response_type: str = T.DEFAULT_RESPONSE_TYPE,
    limit: int = T.NUM_MM_ENTITIES,
) -> dict:
    """The whole chain as data: every system prompt the reference would send,
    in call order. ``media_info`` maps lowercase ORI_IMG entity name ->
    (caption, footnote), the engine-side stand-in for kv_store_image_data.

    Returns {"augmented": str, "mm_entities": [..], "multimodal": [str, ...],
    "needs_merge": bool}; the two merge prompts depend on LLM outputs, so
    their builders are returned by reference via this module's functions.
    """
    ents = mm_entities_from_context(entities_context, limit)
    used = [e for e in ents if e in media_info]
    mm_prompts = [
        multimodal_prompt(context, *media_info[e], response_type=response_type)
        for e in used
    ]
    return {
        "augmented": augmented_prompt(context, response_type),
        "mm_entities": ents,
        "multimodal_refs": used,
        "multimodal": mm_prompts,
        "needs_merge": bool(mm_prompts),
    }


def local_answer(
    nodes, edges, chunks, media_df, query: str,
    cfg: PipelineConfig = DEFAULT, response_type: str | None = None,
) -> dict:
    """The local query lifecycle (reference query.py:313-470) over a built
    graph: seeds → budgeted context edges/chunks → rendered CSV blocks → the
    filled answer-prompt chain. ``media_df`` is the media relation
    (media.media_spans) the image captions come from.

    Returns :func:`assemble_answer_chain`'s dict plus ``"context"``. The LLM
    calls themselves are the production swap point; every string here is
    byte-compatible with what the reference sends its models."""
    blocks = local_context(nodes, edges, chunks, query, cfg)
    context = wrap_context(blocks)
    # media info for the mm prompts: scrape the ≤NUM_MM_ENTITIES ORI_IMG
    # names from the entities CSV FIRST, then filter the media table to
    # exactly those names before the (bounded) collect
    info = media_info_for(media_df, mm_entities_from_context(blocks[0]))
    chain = assemble_answer_chain(
        context, blocks[0], info, response_type or T.DEFAULT_RESPONSE_TYPE
    )
    chain["context"] = context
    return chain

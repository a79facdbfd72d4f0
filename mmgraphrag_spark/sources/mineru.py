"""S3 — MinerU ``*_content_list.json`` ingestion source.

The reference consumes MinerU output by reading the ordered content-list JSON
(items ``{type: text|image|table|equation, text?, img_path?, *_caption[],
*_footnote[], page_idx}``), renaming every item that carries an ``img_path``
to a sequential ``images/image_<n>.jpg`` and walking the neighboring items
for ±``context_length`` words of media context
(/root/reference/mmgraphrag/pdf2md_preprocessing.py:302-313,351-456).

Spark-first re-expression: the content list IS the interleaved spans
sequence, so ingestion is a pure column-op normalization —

* each item becomes one span, ``offset`` = its 0-based position;
* items with a non-empty ``img_path`` (type image OR table — exactly the
  reference's ``"img_path" in item and item["img_path"] != ""`` test)
  become ``kind='image'`` spans whose ``media_ref`` is the sequential
  ``<doc_id>/image_<n>`` (mirroring ``rename_images_in_json``,
  pdf2md_preprocessing.py:302-313) and whose text is the caption+footnote
  join;
* text and equation items become ``kind='text'`` spans (MinerU emits the
  same prose in the .md the reference chunks — equations are latex text).

Scale shape: one wholetext file scan (a content list is one small JSON doc;
parallelism = file count, exactly how a 10^12-doc corpus of per-doc JSON
lands), ``from_json`` + ``posexplode`` (narrow), and one per-doc window for
the sequential media rank — the window partitions on doc_id, the same key
every downstream stage shuffles on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# full MinerU item surface (absent fields -> null)
MINERU_ITEM = (
    "array<struct<"
    "type:string,text:string,text_level:int,text_format:string,"
    "img_path:string,img_caption:array<string>,img_footnote:array<string>,"
    "table_caption:array<string>,table_footnote:array<string>,"
    "table_body:string,page_idx:int"
    ">>"
)


def mineru_convert(
    pdf_glob: str, output_dir: str, binary: str = "magic-pdf"
) -> str:
    """S3 front half: shell out to MinerU's ``magic-pdf`` CLI for every raw
    PDF matching ``pdf_glob`` and return the content-list glob
    ``read_content_lists`` consumes — the exact command and output layout
    the reference uses (``magic-pdf -p <pdf> -o <out>`` →
    ``<out>/<name>/auto/<name>_content_list.json``,
    /root/reference/mmgraphrag/pdf2md_preprocessing.py:316-349), including
    its already-converted resume check.

    Driver-side by design: MinerU is a GPU layout-analysis batch tool that
    runs BEFORE the Spark job — the engine boundary is the content-list
    JSON. On a cluster, run magic-pdf as its own batch step writing to the
    shared store and point the returned glob there; the Spark side never
    shells out per row. Raises FileNotFoundError (loudly, never a silent
    empty scan) when the binary is not installed.
    """
    import glob as _glob
    import os
    import shutil
    import subprocess

    pdfs = sorted(_glob.glob(pdf_glob))
    if not pdfs:
        raise FileNotFoundError(f"no PDFs match {pdf_glob!r}")
    if shutil.which(binary) is None:
        raise FileNotFoundError(
            f"{binary!r} not on PATH — install MinerU (pip install magic-pdf) "
            "or start from its content-list JSON via the 'mineru' source"
        )
    for p in pdfs:
        name = os.path.splitext(os.path.basename(p))[0]
        out_folder = os.path.join(output_dir, name, "auto")
        # the reference's resume check: skip already-converted docs
        if os.path.isdir(out_folder) and any(
            f.endswith("_content_list.json") for f in os.listdir(out_folder)
        ):
            continue
        subprocess.run(
            [binary, "-p", p, "-o", output_dir],
            capture_output=True, text=True, check=True,
        )
    return os.path.join(output_dir, "*", "auto", "*_content_list.json")


def read_content_lists(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, json): one row per content-list file.

    ``wholetext`` keeps the ordered JSON array intact (a row-per-item JSON
    scan would lose item order); doc_id = the file's ``<name>`` stem from
    ``<name>_content_list.json``.
    """
    return (
        spark.read.text(path, wholetext=True)
        .select(
            F.regexp_extract(
                F.input_file_name(), r"([^/]+?)(?:_content_list)?\.json$", 1
            ).alias("doc_id"),
            F.col("value").alias("json"),
        )
    )


def content_list_spans(lists: DataFrame) -> DataFrame:
    """(doc_id, kind, text, media_ref, offset): normalize content lists to
    the engine's interleaved-spans relation."""
    items = lists.select(
        "doc_id",
        F.posexplode(F.from_json("json", MINERU_ITEM)).alias("pos", "it"),
    )
    empty = F.array().cast("array<string>")
    is_media = F.col("it.img_path").isNotNull() & (F.col("it.img_path") != "")
    caption = F.when(
        F.col("it.type") == "table",
        F.concat_ws(
            " ",
            F.coalesce(F.col("it.table_caption"), empty),
            F.coalesce(F.col("it.table_footnote"), empty),
        ),
    ).otherwise(
        F.concat_ws(
            " ",
            F.coalesce(F.col("it.img_caption"), empty),
            F.coalesce(F.col("it.img_footnote"), empty),
        )
    )
    flagged = items.select(
        "doc_id", "pos",
        is_media.alias("m"),
        F.when(is_media, caption)
        .otherwise(F.coalesce(F.col("it.text"), F.lit(""))).alias("text"),
    )
    # sequential 1-based media rank in item order == the reference's
    # image_counter rename (pdf2md_preprocessing.py:302-313)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        flagged.withColumn(
            "mrank", F.sum(F.col("m").cast("int")).over(w)
        )
        .select(
            "doc_id",
            F.when(F.col("m"), F.lit("image")).otherwise(F.lit("text")).alias("kind"),
            "text",
            F.when(
                F.col("m"),
                F.concat(F.col("doc_id"), F.lit("/image_"), F.col("mrank").cast("string")),
            ).otherwise(F.lit("")).alias("media_ref"),
            F.col("pos").cast("int").alias("offset"),
        )
    )


def media_context(flat_spans: DataFrame, n_words: int = 100) -> DataFrame:
    """(doc_id, media_ref, context): ±``n_words`` of neighboring text for
    every media span — the reference's fore/back context walk
    (pdf2md_preprocessing.py:416-440).

    before = last n words of all text spans at smaller offsets, after =
    first n words at larger offsets; context = trim(before || ' ' || after).

    Scale shape: O(s·n) per doc, never O(s²). An earlier build used two
    UNBOUNDED ``collect_list`` windows, materializing a growing word-array
    prefix/suffix at EVERY span row — doc-bounded but quadratic in
    spans-per-doc (a single 50k-span doc would stall its task). This build:

    * pre-truncates each TEXT span to its last/first ``n_words`` (a span can
      never contribute more words than that to any context);
    * assembles, at each text span, the exact last-n-words-ending-here /
      first-n-words-starting-here strings with a ROW-BOUNDED window over
      text spans only — every text span holds ≥1 word (``split('', ' ')``
      is ``['']``, matching the reference's empty-word semantics), so
      ``n_words`` rows always cover ≥ n words and the bound is exact;
    * anchors each image span to its nearest preceding / following text
      span via running ``last(_, ignorenulls)`` frames (incremental,
      O(1)/row — never an unbounded-following frame, which Spark
      re-evaluates per row) and equi-joins the pre-assembled strings back
      on (doc_id, offset). All shuffles stay on doc_id, the pipeline's key.
    """
    is_text = F.col("kind") == "text"
    toff = F.when(is_text, F.col("offset"))
    w_asc = Window.partitionBy("doc_id").orderBy("offset")
    w_desc = Window.partitionBy("doc_id").orderBy(F.desc("offset"))
    anchored = flat_spans.select(
        "doc_id", "kind", "media_ref",
        F.last(toff, ignorenulls=True)
        .over(w_asc.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_off"),
        # nearest FOLLOWING text span == nearest preceding in offset-desc
        # order (a running frame; an unboundedFollowing frame would be
        # recomputed from scratch at every row)
        F.last(toff, ignorenulls=True)
        .over(w_desc.rowsBetween(Window.unboundedPreceding, -1))
        .alias("next_off"),
    ).filter(F.col("kind") == "image")

    words = F.split("text", " ")
    trunc_last = F.array_join(
        F.slice(
            words,
            F.greatest(F.size(words) - F.lit(n_words) + 1, F.lit(1)),
            F.lit(n_words),
        ),
        " ",
    )
    trunc_first = F.array_join(F.slice(words, F.lit(1), F.lit(n_words)), " ")
    text = flat_spans.filter(is_text).select(
        "doc_id", "offset",
        trunc_last.alias("tb"), trunc_first.alias("ta"),
    )
    wt = Window.partitionBy("doc_id").orderBy("offset")
    bjoin = F.concat_ws(
        " ", F.collect_list("tb").over(wt.rowsBetween(-(n_words - 1), 0))
    )
    ajoin = F.concat_ws(
        " ", F.collect_list("ta").over(wt.rowsBetween(0, n_words - 1))
    )
    assembled = text.select(
        "doc_id", "offset",
        F.split(bjoin, " ").alias("bw"),
        F.split(ajoin, " ").alias("aw"),
    ).select(
        "doc_id", "offset",
        F.array_join(
            F.slice(
                "bw",
                F.greatest(F.size("bw") - F.lit(n_words) + 1, F.lit(1)),
                F.lit(n_words),
            ),
            " ",
        ).alias("before"),
        F.array_join(F.slice("aw", F.lit(1), F.lit(n_words)), " ").alias("after"),
    )
    before_df = assembled.select(
        "doc_id", F.col("offset").alias("prev_off"), "before"
    )
    after_df = assembled.select(
        "doc_id", F.col("offset").alias("next_off"), "after"
    )
    return (
        anchored.join(before_df, ["doc_id", "prev_off"], "left")
        .join(after_df, ["doc_id", "next_off"], "left")
        .select(
            "doc_id", "media_ref",
            F.trim(
                F.concat_ws(
                    " ",
                    F.coalesce("before", F.lit("")),
                    F.coalesce("after", F.lit("")),
                )
            ).alias("context"),
        )
    )


def spans_to_content_list(flat_spans: DataFrame) -> DataFrame:
    """(doc_id, json): serialize a spans relation to MinerU content-list
    JSON — the exact inverse of :func:`content_list_spans` (text spans →
    text items, image spans → image items whose caption is the span text).

    Used by the driver round-trip query (ingest_spans) and by tests: the
    serializer + parser composition must reproduce the independent DuckDB
    spans derivation bit-for-bit.
    """
    items = flat_spans.select(
        "doc_id", "offset",
        F.when(
            F.col("kind") == "image",
            F.struct(
                F.lit("image").alias("type"),
                F.lit(None).cast("string").alias("text"),
                F.concat(
                    F.lit("images/"),
                    F.regexp_extract("media_ref", r"/(image_\d+)$", 1),
                    F.lit(".jpg"),
                ).alias("img_path"),
                F.array(F.col("text")).alias("img_caption"),
                F.lit(0).alias("page_idx"),
            ),
        ).otherwise(
            F.struct(
                F.lit("text").alias("type"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("img_path"),
                F.lit(None).cast("array<string>").alias("img_caption"),
                F.lit(0).alias("page_idx"),
            )
        ).alias("it"),
    )
    return (
        items.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("offset", "it"))).alias("o"))
        .select(
            "doc_id",
            F.to_json(F.col("o.it")).alias("json"),
        )
    )

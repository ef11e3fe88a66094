"""Document sectionizer: the reference's stateful full-text parsers
(W1, W2, W4; SURVEY.md §2.5) re-expressed as pure window functions — no
per-row Python, no carried mutable state.

Reference semantics reproduced (cites into /root/reference/):
- hierarchy carry-forward with resets: while scanning lines in order the
  parser remembers the current big-part/chapter/part/mini-part; a new
  chapter resets part+mini-part, a new big-part resets everything below
  (app/service/vbpl.py:254-291, state object app/entity/vbpl.py:1-16)
- sectionizer: lines between one `Điều N` marker and the next (or a
  `___` horizontal rule, or PHỤ LỤC, or doc end) form section_content;
  number+name parsed from the marker line (app/service/vbpl.py:293-378)
- >=400-char name overflow: a "name" at the column limit is actually
  body text (app/service/vbpl.py:334-336)
- name-on-next-line for chapters/parts (find_next_sibling('p'),
  app/service/vbpl.py:262-288) -> lead() over the same window

Spark shape: every carried value is `last(marker_value, ignorenulls)`
over (doc, line_no); resets are expressed by comparing the *line number*
of the latest lower-level marker against the latest higher-level marker
— a value is live only if set after every reset point above it. One
shuffle on doc_id total; scales to any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# marker regexes — exact mirrors of the reference's class constants at
# app/service/vbpl.py:36-43 (capture groups added for number/name
# extraction; matching breadth is identical):
#   _find_big_part_regex  '^((Phần)|(Phần thứ)) (nhất|hai|...|mười)$'
#   _find_section_regex   '^((Điều)|(Điều thứ)) \d+'
#   _find_chapter_regex   '^Chương [IVX]+'
#   _find_part_regex(_2)  '^Mục [IVX]+' / '^Mu.c [IVX]+' (OCR variant)
#   _find_mini_part_regex '^Tiểu mục [IVX]+'
#   _find_start_sub_part  '^PHỤ LỤC$'
_ORDINALS = "nhất|hai|ba|bốn|năm|sáu|bảy|tám|chín|mười"
RE_BIG_PART = rf"^Phần(?: thứ)? ({_ORDINALS})$"
RE_CHAPTER = r"^Chương ([IVX]+)"
RE_PART = r"^(?:Mục|Mu.c) ([IVX]+)"
RE_MINI_PART = r"^Tiểu mục ([IVX]+)"
RE_SECTION = r"^Điều(?: thứ)? (\d+)\s*[.:]?\s*(.*)$"
RE_APPENDIX = r"^PHỤ LỤC$"
RE_RULE = r"^_{3,}\s*$"

NAME_OVERFLOW = 400  # app/service/vbpl.py:334-336


def _w():
    return Window.partitionBy("doc_id").orderBy(F.asc("line_no"))


def _carry(w, marker_flag, value_col):
    """last non-null value at/before the current row."""
    return F.last(F.when(marker_flag, value_col), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )


def _marker_ln(w, marker_flag):
    return F.max(F.when(marker_flag, F.col("line_no"))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )


def sectionize(lines: DataFrame) -> DataFrame:
    """lines(doc_id, line_no, line) -> vbpl_toan_van rows.

    Output: one row per `Điều` section with its hierarchy context
    (schema: /root/reference/app/model/vbpl.py:77-91).
    """
    w = _w()
    df = lines.withColumn("line", F.trim(F.col("line")))

    flags = {
        "is_big": F.col("line").rlike(RE_BIG_PART),
        "is_chap": F.col("line").rlike(RE_CHAPTER),
        "is_part": F.col("line").rlike(RE_PART),
        "is_mini": F.col("line").rlike(RE_MINI_PART),
        "is_sec": F.col("line").rlike(RE_SECTION),
        "is_appx": F.col("line").rlike(RE_APPENDIX),
        "is_rule": F.col("line").rlike(RE_RULE),
    }
    for name, c in flags.items():
        df = df.withColumn(name, c)

    # W4: names live on the next line for structural markers
    df = df.withColumn("next_line", F.lead("line", 1).over(w))

    # marker positions (reset points) and carried values
    df = (
        df.withColumn("big_ln", _marker_ln(w, F.col("is_big")))
        .withColumn("chap_ln", _marker_ln(w, F.col("is_chap")))
        .withColumn("part_ln", _marker_ln(w, F.col("is_part")))
        .withColumn("mini_ln", _marker_ln(w, F.col("is_mini")))
        .withColumn("appx_ln", _marker_ln(w, F.col("is_appx")))
        .withColumn(
            "big_no_c", _carry(w, F.col("is_big"), F.regexp_extract("line", RE_BIG_PART, 1))
        )
        .withColumn("big_nm_c", _carry(w, F.col("is_big"), F.col("next_line")))
        .withColumn(
            "chap_no_c", _carry(w, F.col("is_chap"), F.regexp_extract("line", RE_CHAPTER, 1))
        )
        .withColumn("chap_nm_c", _carry(w, F.col("is_chap"), F.col("next_line")))
        .withColumn(
            "part_no_c", _carry(w, F.col("is_part"), F.regexp_extract("line", RE_PART, 1))
        )
        .withColumn("part_nm_c", _carry(w, F.col("is_part"), F.col("next_line")))
        .withColumn(
            "mini_no_c", _carry(w, F.col("is_mini"), F.regexp_extract("line", RE_MINI_PART, 1))
        )
        .withColumn("mini_nm_c", _carry(w, F.col("is_mini"), F.col("next_line")))
    )

    # reset semantics (vbpl.py:265,273): value is live only if its marker
    # came after every reset point above it
    n1 = F.lit(-1)
    chap_live = F.col("chap_ln") > F.coalesce(F.col("big_ln"), n1)
    part_live = (F.col("part_ln") > F.coalesce(F.col("chap_ln"), n1)) & (
        F.col("part_ln") > F.coalesce(F.col("big_ln"), n1)
    )
    mini_live = (
        (F.col("mini_ln") > F.coalesce(F.col("part_ln"), n1))
        & (F.col("mini_ln") > F.coalesce(F.col("chap_ln"), n1))
        & (F.col("mini_ln") > F.coalesce(F.col("big_ln"), n1))
    )
    df = (
        df.withColumn("chapter_number", F.when(chap_live, F.col("chap_no_c")))
        .withColumn("chapter_name", F.when(chap_live, F.col("chap_nm_c")))
        .withColumn("big_part_number", F.col("big_no_c"))
        .withColumn("big_part_name", F.col("big_nm_c"))
        .withColumn("part_number", F.when(part_live, F.col("part_no_c")))
        .withColumn("part_name", F.when(part_live, F.col("part_nm_c")))
        .withColumn("mini_part_number", F.when(mini_live, F.col("mini_no_c")))
        .withColumn("mini_part_name", F.when(mini_live, F.col("mini_nm_c")))
    )

    # W2: section grouping — running count of Điều markers; content stops
    # at a horizontal rule (vbpl.py:354-357) and before the appendix
    df = df.withColumn(
        "section_id",
        F.sum(F.col("is_sec").cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        "rule_ln",
        F.max(F.when(F.col("is_rule"), F.col("line_no"))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    in_appendix = F.col("appx_ln").isNotNull() & (F.col("line_no") >= F.col("appx_ln"))

    markers = df.filter(F.col("is_sec") & ~in_appendix).select(
        "doc_id",
        "section_id",
        F.col("line_no").alias("marker_ln"),
        F.regexp_extract("line", RE_SECTION, 1).cast("int").alias("section_number"),
        F.regexp_extract("line", RE_SECTION, 2).alias("raw_name"),
        "chapter_number",
        "chapter_name",
        "big_part_number",
        "big_part_name",
        "part_number",
        "part_name",
        "mini_part_number",
        "mini_part_name",
    )
    # F17: a >=400-char "name" is body text, not a name
    markers = markers.withColumn(
        "section_name",
        F.when(F.length("raw_name") >= NAME_OVERFLOW, F.lit(None)).otherwise(F.col("raw_name")),
    ).withColumn(
        "name_overflow_content",
        F.when(F.length("raw_name") >= NAME_OVERFLOW, F.col("raw_name")),
    )

    is_struct = F.col("is_big") | F.col("is_chap") | F.col("is_part") | F.col("is_mini")
    # a structural marker's NAME line (the line right after it) is
    # consumed by the marker handler in the reference
    # (find_next_sibling('p'), vbpl.py:262-288) — never section content
    df = df.withColumn("prev_is_struct", F.lag(is_struct, 1, False).over(w))
    content_lines = df.filter(
        (F.col("section_id") >= 1)
        & ~F.col("is_sec")
        & ~F.col("is_rule")
        & ~in_appendix
        # content stops at a horizontal rule inside the section
        & (
            F.col("rule_ln").isNull()
            | (F.col("line_no") < F.col("rule_ln"))
        )
        & ~is_struct
        & ~F.col("prev_is_struct")
    ).select("doc_id", "section_id", "line_no", "line")

    content = content_lines.groupBy("doc_id", "section_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("line_no"), F.col("line")))
                ),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("body")
    )

    out = markers.join(content, ["doc_id", "section_id"], "left").select(
        "doc_id",
        "section_number",
        "section_name",
        F.concat_ws(
            "\n", F.col("name_overflow_content"), F.coalesce(F.col("body"), F.lit(""))
        ).alias("section_content"),
        "chapter_number",
        "chapter_name",
        "big_part_number",
        "big_part_name",
        "part_number",
        "part_name",
        "mini_part_number",
        "mini_part_name",
    )
    return out

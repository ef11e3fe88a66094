"""Sectionizer (W1, W2, W4) against hand-written fixtures mirroring the
reference parser semantics (app/service/vbpl.py:254-378)."""

import pytest
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.operators.sectionizer import sectionize

DOC1 = [
    "NGHỊ ĐỊNH",
    "Phần thứ nhất",
    "QUY ĐỊNH CHUNG",
    "Chương I",
    "PHẠM VI ĐIỀU CHỈNH",
    "Điều 1. Phạm vi điều chỉnh",
    "Nghị định này quy định chi tiết.",
    "Áp dụng cho mọi tổ chức.",
    "Mục I",
    "ĐỐI TƯỢNG",
    "Điều 2. Đối tượng áp dụng",
    "Cá nhân và tổ chức.",
    "Chương II",
    "HIỆU LỰC",
    "Điều 3. Hiệu lực thi hành",
    "Có hiệu lực từ ngày ký.",
    "___________",
    "Nơi nhận: lưu VT.",
    "PHỤ LỤC",
    "DANH MỤC BIỂU MẪU",
    "Phụ lục I. Mẫu tờ khai",
    "Nội dung mẫu.",
    "Phụ lục II",
    "Mẫu báo cáo",
]


@pytest.fixture(scope="module")
def lines_df(spark):
    rows = [("d1", i, t) for i, t in enumerate(DOC1)]
    return spark.createDataFrame(rows, "doc_id string, line_no int, line string")


def test_section_numbers_and_names(lines_df):
    out = {r.section_number: r for r in sectionize(lines_df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].section_name == "Phạm vi điều chỉnh"
    assert out[1].section_content == "Nghị định này quy định chi tiết.\nÁp dụng cho mọi tổ chức."


def test_hierarchy_carry_forward_and_reset(lines_df):
    out = {r.section_number: r for r in sectionize(lines_df).collect()}
    # Điều 1: big part + chapter I, no Mục yet
    assert out[1].big_part_number == "nhất"
    assert out[1].chapter_number == "I"
    assert out[1].part_number is None
    # Điều 2: inside Mục 1 of chapter I
    assert out[2].chapter_number == "I"
    assert out[2].part_number == "I"
    assert out[2].part_name == "ĐỐI TƯỢNG"  # W4 name-on-next-line
    # Điều 3: chapter II resets Mục (vbpl.py:265,273)
    assert out[3].chapter_number == "II"
    assert out[3].part_number is None


def test_content_stops_at_rule_and_appendix(lines_df):
    out = {r.section_number: r for r in sectionize(lines_df).collect()}
    # the ___ rule ends Điều 3's content (vbpl.py:354-357); appendix
    # lines never leak into sections
    assert out[3].section_content == "Có hiệu lực từ ngày ký."


def test_reference_marker_variants(spark):
    """The reference's exact alternate marker forms (vbpl.py:36-43):
    'Phần hai' (no 'thứ'), 'Điều thứ N', and the OCR 'Mu.c' part
    variant must all be recognized."""
    rows = [
        ("d3", 0, "Phần hai"),
        ("d3", 1, "QUY ĐỊNH RIÊNG"),
        ("d3", 2, "Chương IV"),
        ("d3", 3, "TÊN CHƯƠNG"),
        ("d3", 4, "Muxc II"),  # OCR-damaged 'Mục' — reference's Mu.c form
        ("d3", 5, "TÊN MỤC"),
        ("d3", 6, "Điều thứ 9. Quy định cũ"),
        ("d3", 7, "Thân điều chín."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, line_no int, line string")
    out = {r.section_number: r for r in sectionize(df).collect()}
    assert set(out) == {9}
    assert out[9].section_name == "Quy định cũ"
    assert out[9].big_part_number == "hai"
    assert out[9].chapter_number == "IV"
    assert out[9].part_number == "II"
    assert out[9].section_content == "Thân điều chín."


def test_name_overflow_rule(spark):
    long_name = "x" * 450
    rows = [
        ("d2", 0, f"Điều 1. {long_name}"),
        ("d2", 1, "Thân điều."),
    ]
    df = spark.createDataFrame(rows, "doc_id string, line_no int, line string")
    out = sectionize(df).collect()[0]
    assert out.section_name is None  # >=400 chars -> not a name (F17)
    assert long_name in out.section_content
    assert "Thân điều." in out.section_content


def test_multiple_docs_partitioned(spark):
    rows = [("da", 0, "Điều 1. A"), ("da", 1, "a body"), ("db", 0, "Điều 7. B"), ("db", 1, "b body")]
    df = spark.createDataFrame(rows, "doc_id string, line_no int, line string")
    out = {(r.doc_id, r.section_number): r for r in sectionize(df).collect()}
    assert out[("da", 1)].section_content == "a body"
    assert out[("db", 7)].section_content == "b body"

"""Front-matter parsing into typed page responses (P13)."""

from deepseek_ocr_omnidocbench_spark.operators.frontmatter import (
    parse_page_response,
    split_front_matter,
)

GOOD = """---
primary_language: en
is_rotation_valid: true
rotation_correction: 0
is_table: false
is_diagram: false
---
The page text here."""


def test_split_front_matter():
    fm, text = split_front_matter(GOOD)
    assert fm["primary_language"] == "en"
    assert text == "The page text here."
    fm2, text2 = split_front_matter("no front matter")
    assert fm2 == {} and text2 == "no front matter"


def test_parse_valid():
    lang, rv, rot, tb, dg, text, valid = parse_page_response(GOOD)
    assert valid
    assert (lang, rv, rot, tb, dg) == ("en", True, 0, False, False)
    assert text == "The page text here."


def test_parse_bad_rotation():
    bad = GOOD.replace("rotation_correction: 0", "rotation_correction: 45")
    assert parse_page_response(bad)[-1] is False


def test_parse_missing_field():
    bad = GOOD.replace("is_table: false\n", "")
    assert parse_page_response(bad)[-1] is False


def test_yaml_no_as_language_is_null():
    # yaml 'no' parses as bool in the reference -> language None
    s = GOOD.replace("primary_language: en", "primary_language: no")
    lang, *_rest, valid = parse_page_response(s)
    assert valid and lang is None


def test_string_bools():
    s = GOOD.replace("is_rotation_valid: true", "is_rotation_valid: True")
    assert parse_page_response(s)[1] is True


def test_spark_parse_responses(spark):
    from deepseek_ocr_omnidocbench_spark.operators.frontmatter import parse_responses

    df = spark.createDataFrame([("a", GOOD), ("b", "plain text")], ["url", "md"])
    rows = {r["url"]: r for r in parse_responses(df).collect()}
    assert rows["a"]["response_valid"] and rows["a"]["rotation_correction"] == 0
    assert not rows["b"]["response_valid"]
    assert rows["b"]["natural_text"] == "plain text"

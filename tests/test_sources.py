"""JSONL readers for the reference dataset formats + label discovery (S1/S2/A5)."""

import json

import pytest

from fastie_spark.sources.readers import (
    cls_labels,
    event_labels_from_schema,
    ner_labels,
    re_predicates,
    read_classification,
    read_events,
    read_ner,
    read_re,
    read_uie,
)


def _write(tmp_path, name, rows):
    p = tmp_path / name
    with open(p, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    return str(p)


def test_ner_reader_and_labels(spark, tmp_path):
    path = _write(tmp_path, "ner.json", [
        {"text": "abc", "entities": [
            {"id": 0, "entity": "ab", "start_offset": 0, "end_offset": 2,
             "label": "bod"}]},
        {"text": "xyz", "entities": [
            {"id": 1, "entity": "y", "start_offset": 1, "end_offset": 2,
             "label": "dis"}]},
    ])
    df = read_ner(spark, path)
    assert df.count() == 2
    assert df.schema["entities"].dataType.elementType["label"].dataType.typeName() == "string"
    assert ner_labels(df) == ["bod", "dis"]


def test_re_reader_and_predicates(spark, tmp_path):
    path = _write(tmp_path, "re.json", [
        {"text": "t", "spo_list": [
            {"predicate": "目", "subject": "粒鲇科", "object": "鲇形目",
             "subject_type": "生物", "object_type": "目"}]},
    ])
    df = read_re(spark, path)
    assert re_predicates(df) == ["目"]
    row = df.collect()[0]["spo_list"][0]
    assert row["subject"] == "粒鲇科" and row["object"] == "鲇形目"


def test_event_reader_and_schema_labels(spark, tmp_path):
    data = _write(tmp_path, "duee.json", [
        {"text": "t", "id": "1", "event_list": [
            {"event_type": "组织关系-裁员", "trigger": "裁员",
             "trigger_start_index": 3,
             "arguments": [{"argument_start_index": 5, "role": "裁员人数",
                            "argument": "900人", "alias": []}],
             "class": "组织关系"}]},
    ])
    schema = _write(tmp_path, "schema.json", [
        {"event_type": "组织关系-裁员", "role_list": [{"role": "时间"},
                                                      {"role": "裁员人数"}],
         "id": "x", "class": "组织关系"},
    ])
    df = read_events(spark, data)
    assert df.collect()[0]["event_list"][0]["arguments"][0]["role"] == "裁员人数"
    labels = event_labels_from_schema(spark, schema)
    # trigger role prepended, then sorted
    assert labels == sorted(
        ["组织关系-裁员@触发词", "组织关系-裁员@时间", "组织关系-裁员@裁员人数"])


def test_uie_and_cls_readers(spark, tmp_path):
    u = _write(tmp_path, "uie.json", [
        {"content": "王国维，字静安，号观堂", "result_list":
         [{"text": "观堂", "start": 9, "end": 11}], "prompt": "王国维的号"},
    ])
    df = read_uie(spark, u)
    r = df.collect()[0]
    assert r["content"][r["result_list"][0]["start"]:r["result_list"][0]["end"]] == "观堂"
    c = _write(tmp_path, "cls.json", [
        {"text": "好", "label": "positive"}, {"text": "差", "label": "negative"}])
    assert cls_labels(read_classification(spark, c)) == ["negative", "positive"]


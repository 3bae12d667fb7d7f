"""Thin serving façade — the engine analogue of the reference's
``POST /v1/ie`` endpoint (/root/reference/fastie/api/app.py:65-81,
request/response shapes from fastie/api/protocol.py:25-78).

``run_ie(spark, texts, task, ...)`` takes the IECreateParams fields
(texts, ie_schema, max_length) and returns the response dict
{id, object, created, model, labels} with the task-prefixed id family of
protocol.py (ner-/rel-/event-/uie-/cls-) and per-task ``labels`` in the
reference ``model.predict`` output shapes:

- NER:   per-text ``{label: [{"start", "end", "text"}]}`` (set2json,
         global_pointer/decode_utils.py:109-115)
- RE:    per-text ``{predicate: [{"subject", "object"}]}`` (set2json,
         relation_extraction/gplinker/decode_utils.py:114-120)
- event: per-text ``[{"event_type", "arguments": [{"role", "argument"}],
         "trigger"?}]`` (event set2json, event_extraction/gplinker/
         decode_utils.py:76-100)
- UIE:   per-text nested ``{name: [{text,start,end,probability,
         relations}]}`` dicts
- CLS:   per-text predicted label

One documented deviation: within-list order is made deterministic by
sorting (the reference iterates Python sets, so its order is
process-dependent). Inference runs through the same Spark stages as the
batch job (fused extraction / UIE BFS), so the façade is a capability
match, not a parallel implementation; for ad-hoc few-text calls the Arrow
batch is the batching unit, so the reference's LitServe batch_size
(fastie/api/server.py:22-75) has no parameter here; the HTTP binding still
validates the request field.
"""

from __future__ import annotations

import secrets
import time

from pyspark.sql import SparkSession

from .scorer import Vocab
from .tokenizer import MAX_LENGTH

TASKS = (
    "named-entity-recognition", "relation-extraction", "event-extraction",
    "uie", "text-classification",
)


def _pages_df(spark: SparkSession, texts: list):
    from .session import local_df

    return local_df(
        spark,
        [{"url": f"req://{i}", "text": t} for i, t in enumerate(texts)],
        "url string, text string",
    )


def _collect_by_url(df, n: int) -> list:
    rows: list = [[] for _ in range(n)]
    for r in df.collect():
        rows[int(r["url"].rsplit("://", 1)[1])].append(r)
    return rows


def _nest_uie(rows_by_url: list, schema) -> list:
    """Re-nest run_uie_spark's flat rows into the reference's per-text
    result dicts ({name: [{text,start,end,probability,relations:{...}}]}).
    Children of identical parent spans are identical lists (same composed
    prompt), so grouping by (path, parent span) is lossless."""
    from .uie import build_tree

    if isinstance(schema, (dict, str)):
        schema = [schema]
    tree = build_tree(schema)

    def items_for(rows, path, parent_span):
        out = []
        seen = set()
        for r in rows:
            if r["path"] != path or r["parent"] != parent_span:
                continue
            key = (r["span"], r["start"], r["end"], r["probability"])
            if key in seen:  # occurrence-duplicated parent rows collapse
                continue
            seen.add(key)
            item = {"text": r["span"], "probability": r["probability"]}
            if r["start"] is not None:
                item["start"] = int(r["start"])
                item["end"] = int(r["end"])
            out.append(item)
        return out

    def attach(rows, node, path, items):
        for child in node.children:
            cpath = f"{path}/{child.name}"
            for item in items:
                sub = items_for(rows, cpath, item["text"])
                if sub:
                    item.setdefault("relations", {})[child.name] = sub
                    attach(rows, child, cpath, sub)

    results = []
    for rows in rows_by_url:
        res: dict = {}
        for top in tree.children:
            items = items_for(rows, top.name, None)
            if items:
                res[top.name] = items
                attach(rows, top, top.name, items)
        results.append(res)
    return results


def run_ie(
    spark: SparkSession,
    texts,
    task: str = "uie",
    vocab: Vocab | None = None,
    ie_schema=None,
    max_length: int = MAX_LENGTH,
    is_english: bool = False,
) -> dict:
    """The /v1/ie capability as a library call. texts: str | list[str]."""
    if isinstance(texts, str):
        texts = [texts]
    if task not in TASKS:
        raise ValueError(f"unknown task {task!r}; expected one of {TASKS}")
    if vocab is None:
        raise ValueError("vocab is required (the engine's model weights)")
    n = len(texts)
    pages = _pages_df(spark, texts)

    if task == "uie":
        import shutil
        import tempfile

        from .uie import run_uie_spark

        if ie_schema is None:
            raise ValueError("uie requires ie_schema")
        # serving collects immediately, so the BFS level checkpoints are
        # transient — clean them up (a long-lived server must not leak a
        # temp dir per request)
        work_dir = tempfile.mkdtemp(prefix="uie_req_")
        try:
            out = run_uie_spark(spark, pages, vocab, ie_schema,
                                max_length=max_length, is_english=is_english,
                                work_dir=work_dir)
            labels = _nest_uie(_collect_by_url(out, n), ie_schema)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
    else:
        from .pipeline import run_extraction_fused

        ext = run_extraction_fused(
            spark, pages, vocab, from_html=False, persist=False,
            repartition=False, do_events=task == "event-extraction",
            max_length=max_length,
        )
        if task == "named-entity-recognition":
            # reference set2json: {label: [{"start","end","text"}]}
            labels = []
            for rows in _collect_by_url(ext["mentions"], n):
                res: dict = {}
                for r in sorted(
                    rows, key=lambda r: (r["label"], r["start"], r["end"])
                ):
                    res.setdefault(r["label"], []).append(
                        {"start": int(r["start"]), "end": int(r["end"]),
                         "text": r["surface"]}
                    )
                labels.append(res)
        elif task == "relation-extraction":
            # reference set2json: {predicate: [{"subject","object"}]}
            labels = []
            for rows in _collect_by_url(ext["triples"], n):
                res = {}
                for r in sorted(
                    rows, key=lambda r: (r["pred"], r["subj"], r["obj"])
                ):
                    res.setdefault(r["pred"], []).append(
                        {"subject": r["subj"], "object": r["obj"]}
                    )
                labels.append(res)
        elif task == "event-extraction":
            # reference event set2json: {"event_type", "arguments", and a
            # "trigger" key only when a trigger argument exists}
            labels = []
            for rows in _collect_by_url(ext["events"], n):
                by_key: dict = {}
                for r in rows:
                    ev = by_key.setdefault(
                        r["event_key"],
                        {"event_type": r["event_type"], "arguments": []},
                    )
                    if r["trigger"] is not None:
                        ev["trigger"] = r["trigger"]
                    if r["role"] is not None:
                        ev["arguments"].append(
                            {"role": r["role"], "argument": r["argument"]}
                        )
                # deterministic output regardless of partition/collect order
                for ev in by_key.values():
                    ev["arguments"].sort(
                        key=lambda a: (a["role"], a["argument"])
                    )
                labels.append(
                    [by_key[k] for k in sorted(by_key)]
                )
        else:  # text-classification: per-text argmax over mention labels
            labels = []
            for rows in _collect_by_url(ext["mentions"], n):
                counts: dict = {}
                for r in rows:
                    counts[r["label"]] = counts.get(r["label"], 0) + 1
                # max() keeps the FIRST maximal key, so iterating the
                # sorted keys gives the lexicographically-smallest winner
                labels.append(
                    max(sorted(counts), key=counts.get) if counts else None
                )

    prefix = {
        "text-classification": "cls",
        "named-entity-recognition": "ner",
        "relation-extraction": "rel",
        "event-extraction": "event",
        "uie": "uie",
    }[task]
    return {
        "id": f"{prefix}-{secrets.token_hex(12)}",
        "object": task,
        "created": int(time.time()),
        "model": "fastie-spark-dict-scorer",
        "labels": labels,
    }

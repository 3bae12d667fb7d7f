"""UIE prompt-based universal IE (SURVEY.md §2.4 M16-M18), re-implemented
from /root/reference/fastie/models/uie/decode_utils.py:

  M16 single-stage span extract  :388-471 (_single_stage_predict),
      span pairing :38-86, threshold :90-115, offset re-bias :17-35
  M17 multi-stage schema traversal :220-323 (_multi_stage_predict),
      tree build :525-573, prompt composition :241-271
  M18 classification chunk vote  :473-507 (_auto_joiner)

The "model" is the deterministic dictionary scorer: an entity-label prompt
fires on occurrences of entities of that label; a "{subject}的{relation}"
prompt fires on objects o with (subject, relation, o) in the relation
vocabulary; a "name[optA,optB]" cls prompt fires on the first option whose
text occurs in the content (span emitted INSIDE the prompt, which is what
makes the reference treat it as a cls task). Everything downstream of the
probability grids follows the reference control flow exactly, including
its quirks (``len(max(prompts))`` is the lexicographic max's length, and
the ideographic-space gate in dbc2sbc).
"""

from __future__ import annotations

import re

from .chunking import auto_splitter
from .decoders import dbc2sbc, get_span
from .linking import dbc2sbc_col
from .scorer import Vocab, find_all
from .session import arrow_map_fn
from .tokenizer import MAX_LENGTH

POSITION_PROB = 0.5  # reference default, decode_utils.py:198


# --------------------------------------------------------------------------
# schema tree (decode_utils.py:525-573)
# --------------------------------------------------------------------------
class SchemaTree:
    def __init__(self, name="root", children=None):
        self.name = name
        self.children = []
        self.prefix = None
        self.parent_relations = None
        for c in children or []:
            self.add_child(c)

    def add_child(self, node):
        self.children.append(node)


def build_tree(schema, name="root") -> SchemaTree:
    tree = SchemaTree(name)
    for s in schema:
        if isinstance(s, str):
            tree.add_child(SchemaTree(s))
        elif isinstance(s, dict):
            for k, v in s.items():
                child = [v] if isinstance(v, str) else v
                if not isinstance(child, list):
                    raise TypeError("Invalid schema value")
                tree.add_child(build_tree(child, name=k))
        else:
            raise TypeError("Invalid schema element")
    return tree


# --------------------------------------------------------------------------
# pair tokenization + offset re-bias
# --------------------------------------------------------------------------
def encode_pair_offsets(prompt: str, content: str, max_length: int = MAX_LENGTH):
    """[CLS] prompt [SEP] content [SEP] offset mapping with per-segment
    char offsets, mirroring a HF fast tokenizer's pair encoding. Content is
    truncated so the whole sequence fits max_length."""
    room = max_length - 3 - len(prompt)
    content_keep = max(0, min(len(content), room))
    offsets = (
        [(0, 0)]
        + [(i, i + 1) for i in range(len(prompt))]
        + [(0, 0)]
        + [(j, j + 1) for j in range(content_keep)]
        + [(0, 0)]
    )
    return offsets, content_keep


def get_id_and_prob(spans, offset_map):
    """Offset re-bias + (start,end) resolution (decode_utils.py:17-35):
    prompt-token offsets are shifted to negatives so cls spans (inside the
    prompt) are distinguishable downstream."""
    prompt_length = 0
    for i in range(1, len(offset_map)):
        if offset_map[i] != [0, 0]:
            prompt_length += 1
        else:
            break
    for i in range(1, prompt_length + 1):
        offset_map[i][0] -= prompt_length + 1
        offset_map[i][1] -= prompt_length + 1
    sentence_id, prob = [], []
    for start, end in spans:
        prob.append(float(start[1] * end[1]))
        sentence_id.append((offset_map[start[0]][0], offset_map[end[0]][1]))
    return sentence_id, prob


# --------------------------------------------------------------------------
# deterministic UIE scorer
# --------------------------------------------------------------------------
_CLS_RE = re.compile(r"\[.*?\]$")


class UIEScorer:
    """start/end probability lists over the pair token sequence."""

    def __init__(self, vocab: Vocab, max_length: int = MAX_LENGTH):
        self.vocab = vocab
        self.max_length = max_length
        self.by_label: dict = {}
        for surf, lbl in vocab.entity_vocab:
            self.by_label.setdefault(lbl, []).append(surf)
        self.by_subj: dict = {}
        for s, p, o in vocab.relation_vocab:
            self.by_subj.setdefault((s, p), []).append(o)
        self.predicates = set(vocab.predicates())

    def probs(self, prompt: str, content: str):
        """(start_probs, end_probs) aligned with encode_pair_offsets tokens."""
        offsets, keep = encode_pair_offsets(prompt, content, self.max_length)
        n = len(offsets)
        starts = [0.0] * n
        ends = [0.0] * n
        c_base = 1 + len(prompt) + 1  # first content token index
        kept = content[:keep]

        def fire_content(surface):
            for s in find_all(kept, surface):
                e = s + len(surface)
                if e <= keep:
                    starts[c_base + s] = 1.0
                    ends[c_base + e - 1] = 1.0

        m = _CLS_RE.search(prompt)
        if m:
            # cls prompt: fire the first option (textual order) present in
            # the content; the span lies INSIDE the prompt -> cls semantics
            options = [o.strip() for o in m.group()[1:-1].replace("，", ",").split(",")]
            body_start = m.start()
            for opt in options:
                if opt and opt in kept:
                    rel = prompt.find(opt, body_start)
                    if rel != -1:
                        starts[1 + rel] = 1.0
                        ends[1 + rel + len(opt) - 1] = 1.0
                    break
            return starts, ends

        if prompt in self.by_label:
            for surf in self.by_label[prompt]:
                fire_content(surf)
            return starts, ends

        # relation prompts: zh "{subject}的{predicate}" / en "{predicate} of
        # {subject}" (prompt composition decode_utils.py:251-263)
        if "的" in prompt:
            for (s, p), objs in self.by_subj.items():
                if prompt == f"{s}的{p}":
                    for o in objs:
                        fire_content(o)
        elif " of " in prompt:
            p, s = prompt.split(" of ", 1)
            for o in self.by_subj.get((s, p), []):
                fire_content(o)
        return starts, ends


# --------------------------------------------------------------------------
# M16: single-stage predict (shared by oracle and the Spark UDF)
# --------------------------------------------------------------------------
def get_bool_ids_greater_than_prob(probs, limit):
    return [(i, p) for i, p in enumerate(probs) if p > limit]


def single_stage_predict(inputs: list, scorer: UIEScorer,
                         max_length: int = MAX_LENGTH,
                         split_sentence: bool = False,
                         position_prob: float = POSITION_PROB,
                         max_prompt_len: int | None = None) -> list:
    """examples [{'text','prompt'}] -> per-example result lists
    (decode_utils.py:389-471). Reference quirk kept: max_predict_len uses
    the length of the LEXICOGRAPHIC max prompt. The Spark path passes
    ``max_prompt_len`` = len(node-global lexicographic max prompt) so each
    row reproduces the reference's batch-level value without a dummy
    example (every row prompt is <= that max by construction)."""
    if not inputs:
        return []
    input_texts = [x["text"] for x in inputs]
    prompts = [x["prompt"] for x in inputs]
    if max_prompt_len is None:
        max_prompt_len = len(max(prompts))
    max_predict_len = max_length - max_prompt_len - 3

    short_texts, input_mapping = auto_splitter(
        input_texts, max_predict_len, split_sentence=split_sentence
    )
    short_prompts = []
    for k, v in input_mapping.items():
        short_prompts.extend(prompts[k] for _ in v)

    results = []
    for text, prompt in zip(short_texts, short_prompts):
        starts_p, ends_p = scorer.probs(prompt, text)
        start_ids = get_bool_ids_greater_than_prob(starts_p, position_prob)
        end_ids = get_bool_ids_greater_than_prob(ends_p, position_prob)
        span_list = get_span(start_ids, end_ids, with_prob=True)
        offsets, _ = encode_pair_offsets(prompt, text, max_length)
        sentence_id, prob = get_id_and_prob(
            span_list, [list(o) for o in offsets]
        )
        # _convert_ids_to_results (decode_utils.py:330-348)
        result_list = []
        for (start, end), pr in zip(sentence_id, prob):
            if start < 0 and end >= 0:
                continue
            if end < 0:
                start += len(prompt) + 1
                end += len(prompt) + 1
                result_list.append({"text": prompt[start:end], "probability": pr})
            else:
                result_list.append(
                    {"text": text[start:end], "start": start, "end": end,
                     "probability": pr}
                )
        results.append(result_list)
    return uie_auto_joiner(results, short_texts, input_mapping)


def uie_auto_joiner(short_results, short_inputs, input_mapping):
    """J3 chunk join + M18 cls majority vote (decode_utils.py:473-523)."""
    concat_results = []
    is_cls_task = False
    for sr in short_results:
        if not sr:
            continue
        is_cls_task = "start" not in sr[0] and "end" not in sr[0]
        break
    for k, vs in input_mapping.items():
        if is_cls_task:
            cls_options: dict = {}
            for v in vs:
                if not short_results[v]:
                    continue
                t = short_results[v][0]["text"]
                if t in cls_options:
                    cls_options[t][0] += 1
                    cls_options[t][1] += short_results[v][0]["probability"]
                else:
                    cls_options[t] = [1, short_results[v][0]["probability"]]
            if cls_options:
                cls_res, cls_info = max(cls_options.items(), key=lambda x: x[1])
                concat_results.append(
                    [{"text": cls_res, "probability": cls_info[1] / cls_info[0]}]
                )
            else:
                concat_results.append([])
        else:
            single_results: list = []
            offset = 0
            for v in vs:
                if v == 0:
                    single_results = short_results[v]
                    offset += len(short_inputs[v])
                else:
                    for r in short_results[v]:
                        if "start" not in r or "end" not in r:
                            continue
                        r["start"] += offset
                        r["end"] += offset
                    offset += len(short_inputs[v])
                    single_results.extend(short_results[v])
            concat_results.append(single_results)
    return concat_results


# --------------------------------------------------------------------------
# M17 on Spark: one DataFrame pass per schema node (driver-side BFS).
# The data-dependent plan SURVEY.md §7.2c describes: prompts for level n+1
# are composed relationally from level-n result rows; only the per-node
# lexicographic-max prompt (the reference's max_predict_len quirk) is
# collected to the driver (one tiny agg per node).
# --------------------------------------------------------------------------
# one row per extracted span of a BFS level; path = the schema node
UIE_ROW_SCHEMA = (
    "url string, parent string, span string, start long, end long, "
    "probability double, path string"
)


def _uie_level_fn(vocab: Vocab, maxp_by_path: dict, max_length: int,
                  split_sentence: bool, position_prob: float):
    """One fused python stage for a WHOLE BFS level: rows carry their node
    path, and the per-node lexicographic-max prompt (the reference
    max_predict_len quirk) is looked up from the broadcast-sized
    maxp_by_path dict — node count never adds stages or jobs."""
    def setup():
        return UIEScorer(vocab, max_length)

    def process(scorer, urls, texts, prompts, parents, paths) -> list:
        rows = []
        for url, text, prompt, parent, path in zip(
            urls, texts, prompts, parents, paths
        ):
            res = single_stage_predict(
                [{"text": text, "prompt": prompt}],
                scorer, max_length, split_sentence, position_prob,
                max_prompt_len=len(maxp_by_path[path]),
            )[0]
            for r in res:
                rows.append(
                    (url, parent, r.get("text"), r.get("start"),
                     r.get("end"), r["probability"], path)
                )
        return rows

    return arrow_map_fn(["url", "text", "prompt", "parent", "path"],
                        UIE_ROW_SCHEMA, process, setup)


def run_uie_spark(spark, pages, vocab: Vocab, schema,
                  max_length: int = MAX_LENGTH, split_sentence: bool = False,
                  position_prob: float = POSITION_PROB,
                  is_english: bool = False, work_dir: str | None = None,
                  resume: bool = False):
    """pages(url, text) + ad-hoc schema -> flat result rows
    (url, path, parent, span, start, end, probability). is_english switches
    the child prompt composition to the reference English mode
    (decode_utils.py:251-263): '{name} of {span}', with the cls-option
    splice '{prefix} of {span} {cls_options}' for cls nodes.

    Scale shape: the schema tree is traversed LEVEL by level. All of a
    level's per-node max-prompt lengths come from ONE aggregation job over
    the union of the level's prompt frames (root-level prompts are literal
    constants and need no job at all), and each level's extraction output
    is checkpointed as a parquet table under ``work_dir`` and read back —
    reliable-storage lineage truncation, so a lost executor replays from
    the files (a localCheckpoint would strand the corpus-sized result on
    executor-local storage) and child levels never recompute parent python
    stages. Jobs per level: 1 max-prompt agg (non-root levels) + 1 write —
    independent of the node count (gated in tests/test_uie.py).

    work_dir: directory for the per-level checkpoints (on a cluster: a
    shared path, like any checkpoint location). Default: a fresh temp dir;
    the returned DataFrame reads from it, so remove it only after the
    result is consumed.

    resume=True: mid-schema restart. Each completed level commits an
    atomic manifest (materialize.write_manifest — the same tmp+rename
    watermark the graph tables use) recording the level's parameter
    fingerprint and surviving node paths; on restart, levels whose
    manifest matches are read back from their parquet instead of
    recomputed, and extraction continues from the first missing level.
    Checkpoint contract (as for any Spark checkpoint location): one
    work_dir == one (input, schema) run — reusing a work_dir against
    different pages is on the caller."""
    import hashlib
    import json as _json
    import os
    import tempfile

    from pyspark.sql import functions as F

    from .materialize import read_manifest, write_manifest

    if isinstance(schema, (dict, str)):
        schema = [schema]
    tree = build_tree(schema)
    texts = pages.select("url", "text")
    if work_dir is None:
        work_dir = tempfile.mkdtemp(prefix="uie_bfs_")
    else:
        # liveness touch on EVERY use: the resume fast path never rewrites
        # parquet (mtime would stay at creation), so without this an
        # age-based sweep in another session (__spark_entry__ prunes
        # foreign dirs >6h old) could delete a live session's committed
        # level checkpoints out from under a still-lazy DataFrame handle.
        os.makedirs(work_dir, exist_ok=True)
        os.utime(work_dir)

    def compose_child_prompt(child_name: str):
        """Column expr for the composed child prompt from F.col('span'),
        normalized as a whole by dbc2sbc_col, exactly as the reference
        dbc2sbc(prompt) call (decode_utils.py:266), so a full-width parent
        span normalizes too."""
        if is_english:
            m = _CLS_RE.search(child_name)
            if m:
                prefix = child_name[: child_name.find("[", 1)].strip()
                raw = F.concat(F.lit(prefix + " of "), F.col("span"),
                               F.lit(" " + m.group()))
            else:
                raw = F.concat(F.lit(child_name + " of "), F.col("span"))
        else:
            raw = F.concat(F.col("span"), F.lit("的" + child_name))
        return dbc2sbc_col(raw)

    level_dirs: list = []
    # level state: node_by_path for subtree bookkeeping; root prompts are
    # literal constants (their max over a constant column is the constant),
    # child prompts arrive as ONE union frame (url, prompt, parent, path)
    node_by_path = {c.name: c for c in tree.children}
    root_consts = {c.name: dbc2sbc(c.name) for c in tree.children}
    child_union = None
    level_idx = 0
    while node_by_path:
        ldir = os.path.join(work_dir, f"level_{level_idx}")
        # parameter fingerprint: a committed level is reusable only for the
        # same node set + decode parameters + VOCAB identity (a vocab swap
        # under an unchanged schema must invalidate committed levels —
        # vocab.fingerprint() is the same content hash the executor model
        # cache keys on). Input identity remains the caller's checkpoint
        # contract, as with any checkpoint location.
        level_fp = hashlib.md5(_json.dumps({
            "paths": sorted(node_by_path), "max_length": max_length,
            "split": split_sentence, "prob": position_prob,
            "en": is_english, "vocab": vocab.fingerprint(),
        }, sort_keys=True).encode()).hexdigest()
        man = read_manifest(work_dir, f"level_{level_idx}") if resume else {}
        if (man.get("completed") and man.get("fingerprint") == level_fp
                and os.path.exists(ldir)):
            # ---- resume fast path: level already committed — read it back,
            # skip the prompt agg and the python extraction stage entirely
            kept = {p: node_by_path[p] for p in man["kept_paths"]
                    if p in node_by_path}
            if not kept:
                break
            level_out = spark.read.schema(UIE_ROW_SCHEMA).parquet(ldir)
            level_dirs.append(ldir)
        else:
            # ---- assemble the level frame (url, text, prompt, parent, path)
            frame = None
            if root_consts:
                for path, const in root_consts.items():
                    part = texts.select(
                        "url", "text", F.lit(const).alias("prompt"),
                        F.lit(None).cast("string").alias("parent"),
                        F.lit(path).alias("path"),
                    )
                    frame = part if frame is None else frame.unionByName(part)
            maxp_by_path = dict(root_consts)
            if child_union is not None:
                joined = child_union.join(texts, "url").select(
                    "url", "text", "prompt", "parent", "path"
                )
                frame = joined if frame is None else frame.unionByName(joined)
                # ONE job: every node's lexicographic-max prompt at once
                maxp_by_path.update({
                    r["path"]: r["m"]
                    for r in joined.groupBy("path")
                    .agg(F.max("prompt").alias("m")).collect()
                })
            # nodes with empty prompt frame -> reference skips node + subtree
            kept = {p: n for p, n in node_by_path.items()
                    if p in maxp_by_path}
            if not kept:
                break
            # ---- one fused python stage + one checkpoint write per level.
            # The parquet write is reliable-storage lineage truncation: child
            # levels and the final union replay from files (a localCheckpoint
            # would strand the corpus-sized result on executor-local storage).
            out = frame.mapInArrow(
                _uie_level_fn(vocab, maxp_by_path, max_length, split_sentence,
                              position_prob),
                schema=UIE_ROW_SCHEMA,
            )
            out.write.mode("overwrite").parquet(ldir)
            level_out = spark.read.schema(UIE_ROW_SCHEMA).parquet(ldir)
            level_dirs.append(ldir)
            # commit AFTER the parquet write: a crash mid-write leaves no
            # manifest, so restart recomputes the level (never reads a
            # half-written dir)
            write_manifest(work_dir, {
                "snapshot_id": f"level_{level_idx}",
                "fingerprint": level_fp,
                "kept_paths": sorted(kept),
                "completed": True,
            })
        # ---- compose next level's prompt frames from the checkpointed rows
        next_nodes: dict = {}
        child_union = None
        for path, node in kept.items():
            if not node.children:
                continue
            child_base = level_out.filter(F.col("path") == path).select(
                "url", F.col("span").alias("parent"), "span"
            )
            for child in node.children:
                cpath = f"{path}/{child.name}"
                next_nodes[cpath] = child
                part = child_base.select(
                    "url",
                    compose_child_prompt(child.name).alias("prompt"),
                    "parent",
                    F.lit(cpath).alias("path"),
                )
                child_union = (
                    part if child_union is None
                    else child_union.unionByName(part)
                )
        node_by_path = next_nodes
        root_consts = {}
        level_idx += 1

    if not level_dirs:
        return spark.createDataFrame([], UIE_ROW_SCHEMA)
    result = spark.read.schema(UIE_ROW_SCHEMA).parquet(*level_dirs)
    return result.select(
        "url", "path", "parent", "span", "start", "end", "probability"
    )


def flatten_oracle_results(texts_urls, results, tree_schema) -> list:
    """Flatten multi_stage_predict output to the Spark row shape for
    parity comparison."""
    if isinstance(tree_schema, (dict, str)):
        tree_schema = [tree_schema]
    tree = build_tree(tree_schema)
    rows = []

    def walk(url, node, path, items, parent_text):
        for it in items:
            rows.append(
                (url, path, parent_text, it.get("text"), it.get("start"),
                 it.get("end"), it["probability"])
            )
            for child in node.children:
                sub = it.get("relations", {}).get(child.name, [])
                walk(url, child, f"{path}/{child.name}", sub, it.get("text"))

    for url, res in zip(texts_urls, results):
        for top in tree.children:
            walk(url, top, top.name, res.get(top.name, []), None)
    return rows


# --------------------------------------------------------------------------
# M17: multi-stage schema traversal (oracle control flow)
# --------------------------------------------------------------------------
def multi_stage_predict(texts: list, schema, vocab: Vocab,
                        max_length: int = MAX_LENGTH,
                        split_sentence: bool = False,
                        position_prob: float = POSITION_PROB,
                        is_english: bool = False) -> list:
    """Faithful _multi_stage_predict (decode_utils.py:220-323)."""
    scorer = UIEScorer(vocab, max_length)
    if isinstance(schema, (dict, str)):
        schema = [schema]
    tree = build_tree(schema)
    results = [{} for _ in texts]
    schema_list = tree.children[:]
    while schema_list:
        node = schema_list.pop(0)
        examples, input_map = [], {}
        cnt = idx = 0
        if not node.prefix:
            for data in texts:
                examples.append({"text": data, "prompt": dbc2sbc(node.name)})
                input_map[cnt] = [idx]
                idx += 1
                cnt += 1
        else:
            for pre, data in zip(node.prefix, texts):
                if len(pre) == 0:
                    input_map[cnt] = []
                else:
                    for p in pre:
                        if is_english:
                            if _CLS_RE.search(node.name):
                                prompt_prefix = node.name[: node.name.find("[", 1)].strip()
                                cls_options = _CLS_RE.search(node.name).group()
                                prompt = prompt_prefix + p + " " + cls_options
                            else:
                                prompt = node.name + p
                        else:
                            prompt = p + node.name
                        examples.append({"text": data, "prompt": dbc2sbc(prompt)})
                    input_map[cnt] = [i + idx for i in range(len(pre))]
                    idx += len(pre)
                cnt += 1

        result_list = (
            single_stage_predict(examples, scorer, max_length, split_sentence,
                                 position_prob)
            if examples else []
        )
        if not node.parent_relations:
            relations = [[] for _ in texts]
            for k, v in input_map.items():
                for i in v:
                    if not result_list[i]:
                        continue
                    if node.name not in results[k]:
                        # assign the list object itself — later stages attach
                        # "relations" onto these dicts in place (reference
                        # relies on the shared identity)
                        results[k][node.name] = result_list[i]
                    else:
                        results[k][node.name].extend(result_list[i])
                if node.name in results[k]:
                    relations[k].extend(results[k][node.name])
        else:
            relations = node.parent_relations
            for k, v in input_map.items():
                for i in range(len(v)):
                    if not result_list[v[i]]:
                        continue
                    rel = relations[k][i]
                    rel.setdefault("relations", {})
                    rel["relations"].setdefault(node.name, [])
                    rel["relations"][node.name].extend(result_list[v[i]])
            new_relations = [[] for _ in texts]
            for i in range(len(relations)):
                for j in range(len(relations[i])):
                    r = relations[i][j]
                    if "relations" in r and node.name in r["relations"]:
                        new_relations[i].extend(r["relations"][node.name])
            relations = new_relations

        prefix = [[] for _ in texts]
        for k, v in input_map.items():
            for i in v:
                for r in result_list[i]:
                    prefix[k].append(
                        (" of " + r["text"]) if is_english else (r["text"] + "的")
                    )
        for child in node.children:
            child.prefix = prefix
            child.parent_relations = relations
            schema_list.append(child)
    return results

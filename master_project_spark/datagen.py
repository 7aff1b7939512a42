"""Deterministic synthetic transcript + alias-dict generator (seed-stable).

Schema from BASELINE.json ``input_hint``:
  conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
  ts:timestamp

Conversation sizes are Zipf-distributed to exercise skew/salting (FIXTURES.md
§1). Texts embed known dataset/baseline mentions with the reference's trigger
phrasing (ent_extraction.py:99-166) plus distractors the reference's filters
reject: author-year citations (texts.py:67-71), ' X et al.'
(ent_extraction.py:338), >10-word phrases (:342), <4-word sentences
(texts.py:115), emoticons (texts.py:41), 'Fig. 6.'-style abbreviations
(texts.py:42-52).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

DATASETS = [
    "SQuAD", "ImageNet", "GLUE", "MNIST", "CIFAR-10", "WikiText-103",
    "CoNLL-2003", "LibriSpeech", "C4", "LAION-5B", "Penn Treebank",
    "OpenWebText", "MS MARCO", "Natural Questions", "HotpotQA",
    "CommonCrawl", "BookCorpus", "SST-2", "AG News", "TriviaQA",
]
BASELINES = [
    "BERT-base", "ResNet-50", "GPT-2", "T5-large", "RoBERTa", "XGBoost",
    "LSTM", "Word2Vec", "ELMo", "Transformer-XL", "ALBERT", "DistilBERT",
    "VGG-16", "InceptionV3", "FastText", "GloVe",
]
MODELS = [
    "OurModel", "SparkNet", "GraphFormer", "DeltaRank", "AtlasLM",
    "NovaEncoder", "PrismNet", "QuillTagger",
]
ALIAS_PAIRS = [
    ("Stanford Question Answering Dataset", "SQuAD"),
    ("General Language Understanding Evaluation", "GLUE"),
    ("Microsoft Machine Reading Comprehension", "MS MARCO"),
    ("Penn Treebank", "PTB"),
    ("Natural Questions", "NQ"),
    ("Bidirectional Encoder Representations", "BERT-base"),
]
TOOLS = ["search", "python", "calculator", "browser"]

_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

# Templates: {d*} dataset slots, {b*} baseline slots, {m} model slot.
# Each yields deterministic gold triples via the shared core.
_TEMPLATES = [
    "We trained {m} on {d1} and achieved strong results overall.",
    "Our model was evaluated on {d1} and compared with {b1}.",
    "{m} outperforms {b1} on the {d1} benchmark by a wide margin.",
    "We fine-tuned on {d1} after pre-training, then tested on {d2} carefully.",
    "The system was compared against {b1} and {b2} under identical settings.",
    "We utilized the {d1} corpus for all pre-training experiments here.",
    "Training data was collected from {d1} over several months of work.",
    "For evaluation we experimented on {d1} using standard splits throughout.",
    "{m} was trained on {d1} using the default hyperparameters everywhere.",
    "Results versus {b1} show consistent gains across every configuration tested.",
]
_ALIAS_TEMPLATE = ("We release the {long} ({short}) and trained {m} on "
                   "{short} for reproducibility.")
_DISTRACTORS = [
    "Prior work (Smith et al., 2019) reported similar findings [12,13].",
    "Great :-) thanks for the detailed explanation of the setup.",
    "See Fig. 6. The loss curves converge after roughly ten epochs.",
    "Ok sure.",   # <4 words -> rejected sentence (texts.py:115)
    "The samples are i.i.d. draws, e.g. from the validation pool partition.",
    "Accuracy improved from 91.2 to 93.7 after tuning the learning rate well.",
    "A very long descriptive phrase about An Extremely Long Entity Name That "
    "Should Be Filtered Out By The Word Limit appears here.",
    "Wilson et al. argued the comparison needed more careful ablation studies.",
    "Let me run the experiments again and report back with full numbers.",
]


def _conv_rows(seed: int, ci: int, max_turns: int) -> list[dict]:
    """Rows for one conversation — seeded per (seed, ci) only, so the
    driver-side and the distributed generator emit IDENTICAL rows regardless
    of partitioning."""
    rng = random.Random(seed * 1_000_003 + ci)
    # Zipf-ish size by rank (skew/salting exercise, FIXTURES.md §1)
    # NB: the inner max(2, ...) clamps BEFORE jitter (so deep-tail convs can
    # still get 3 turns) — not redundant with the outer clamp
    n_turns = min(max_turns,
                  max(2, max(2, int(max_turns / (ci + 1) ** 0.7))
                      + rng.randint(-1, 1)))
    conv_id = f"conv{ci:08d}"
    # bounded offset: hours=ci overflows the ns-timestamp range (year 2262)
    # past ~2.1M conversations — wrap within ~11 years
    conv_offset = timedelta(hours=ci % 100_000, seconds=ci // 100_000)
    roles = ["user", "assistant", "tool"]
    turn_rows = []
    for ti in range(n_turns):
        role = roles[ti % 3]
        parts = []
        # 1-3 sentences per turn; mix of signal and distractor
        for _ in range(rng.randint(1, 3)):
            r = rng.random()
            if r < 0.45:
                tpl = rng.choice(_TEMPLATES)
                parts.append(tpl.format(
                    m=rng.choice(MODELS),
                    d1=rng.choice(DATASETS), d2=rng.choice(DATASETS),
                    b1=rng.choice(BASELINES), b2=rng.choice(BASELINES)))
            elif r < 0.52:
                long, short = rng.choice(ALIAS_PAIRS)
                parts.append(_ALIAS_TEMPLATE.format(
                    long=long, short=short, m=rng.choice(MODELS)))
            else:
                parts.append(rng.choice(_DISTRACTORS))
        turn_rows.append({
            "conv_id": conv_id,
            "turn_idx": ti,
            "role": role,
            "text": " ".join(parts),
            "tool": rng.choice(TOOLS) if role == "tool" else None,
            "ts": _BASE_TS + conv_offset + timedelta(seconds=30 * ti),
        })
    rng.shuffle(turn_rows)  # force the pipeline to re-order
    return turn_rows


def gen_transcripts(n_convs: int = 100, max_turns: int = 40,
                    seed: int = 42) -> list[dict]:
    """Deterministic transcript rows; emitted SHUFFLED within each conv (the
    pipeline must restore order via Window.partitionBy(conv_id)
    .orderBy(turn_idx) — FIXTURES.md §1)."""
    rows: list[dict] = []
    for ci in range(n_convs):
        rows.extend(_conv_rows(seed, ci, max_turns))
    return rows


def transcripts_df_distributed(spark, n_convs: int, max_turns: int = 40,
                               seed: int = 42, partitions: int | None = None):
    """Scale-path generator: spark.range over conv indices -> mapInPandas,
    so a 10^6-conv corpus is synthesized in parallel on executors (the
    sandbox stand-in for reading the 10^12-turn Iceberg table). Identical
    rows to gen_transcripts for the same (n_convs, max_turns, seed)."""
    import pandas as pd

    parts = partitions or spark.sparkContext.defaultParallelism * 4
    schema = transcripts_spark_schema()
    cols = [f.name for f in schema.fields]

    def gen(batches):
        for pdf in batches:
            rows = []
            for ci in pdf["id"]:
                rows.extend(_conv_rows(seed, int(ci), max_turns))
            out = pd.DataFrame(rows, columns=cols)
            out["ts"] = pd.to_datetime(out["ts"], utc=True).dt.tz_localize(None)
            yield out

    return spark.range(n_convs).repartition(parts).mapInPandas(gen, schema)


def gen_alias_dict(seed: int = 42) -> list[dict]:
    """Small broadcast side for entity linking (FIXTURES.md §2): every known
    entity + its lowercase/abbreviation variants -> canonical_id, prior."""
    rng = random.Random(seed + 1)
    rows: list[dict] = []
    seen: set[str] = set()

    def add(alias: str, canonical: str) -> None:
        a = alias.lower().strip()
        if not a or a in seen:
            return
        seen.add(a)
        rows.append({
            "alias": a,
            "canonical_id": "ent_" + canonical.lower().replace(" ", "_"),
            "prior": round(0.5 + rng.random() / 2, 6),
        })

    for name in DATASETS + BASELINES + MODELS:
        add(name, name)
    for long, short in ALIAS_PAIRS:
        canonical = short if short in DATASETS + BASELINES else long
        add(long, canonical)
        add(short, canonical)
        add(f"{long} ({short})", canonical)
    return rows


def transcripts_spark_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])


def alias_spark_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("alias", T.StringType()),
        T.StructField("canonical_id", T.StringType()),
        T.StructField("prior", T.DoubleType()),
    ])


def transcripts_df(spark, n_convs: int = 100, max_turns: int = 40,
                   seed: int = 42):
    return spark.createDataFrame(
        gen_transcripts(n_convs, max_turns, seed), transcripts_spark_schema())


def alias_df(spark, seed: int = 42):
    """The alias dictionary as a Spark table built from Arrow: the JVM
    reads it alone (a list of tuples would become a Python RDD, and every
    job reading the dictionary would run Python tasks)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(pa.Table.from_pylist(
        gen_alias_dict(seed), schema=to_arrow_schema(alias_spark_schema())))

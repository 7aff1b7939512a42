"""Seeded input generators for the benchmark workloads (stdlib + pyarrow).

Everything here is a pure function of (workload, seed): the same seed
writes byte-identical inputs. The program under test only ever sees the
parquet tables written here.

- ``transcripts``: the transcript grammar of the engine's test corpus
  (trigger-phrase templates plus distractors, Zipf conversation sizes,
  turns shuffled within a conversation). ``kg_narrow`` fills the entity
  slots from 44 fixed names, so turn texts repeat and the extraction memo
  stays hot; ``kg_wide`` fills them from thousands of generated names with
  near-duplicate variants, so almost every turn text is distinct and
  canonicalization has thousands of surfaces to block and cluster.
- ``delta``: appended input for the incremental path: new conversations
  built from base turn texts.
- ``query tables``: a small TPC-H-style star schema plus the events,
  documents and embeddings tables the contract queries read, in the column
  types and value domains those queries expect.
"""

from __future__ import annotations

import json
import math
import random
import shutil
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ grammar

NARROW_DATASETS = [
    "SQuAD", "ImageNet", "GLUE", "MNIST", "CIFAR-10", "WikiText-103",
    "CoNLL-2003", "LibriSpeech", "C4", "LAION-5B", "Penn Treebank",
    "OpenWebText", "MS MARCO", "Natural Questions", "HotpotQA",
    "CommonCrawl", "BookCorpus", "SST-2", "AG News", "TriviaQA",
]
NARROW_BASELINES = [
    "BERT-base", "ResNet-50", "GPT-2", "T5-large", "RoBERTa", "XGBoost",
    "LSTM", "Word2Vec", "ELMo", "Transformer-XL", "ALBERT", "DistilBERT",
    "VGG-16", "InceptionV3", "FastText", "GloVe",
]
NARROW_MODELS = [
    "OurModel", "SparkNet", "GraphFormer", "DeltaRank", "AtlasLM",
    "NovaEncoder", "PrismNet", "QuillTagger",
]
NARROW_ALIAS_PAIRS = [
    ("Stanford Question Answering Dataset", "SQuAD"),
    ("General Language Understanding Evaluation", "GLUE"),
    ("Microsoft Machine Reading Comprehension", "MS MARCO"),
    ("Penn Treebank", "PTB"),
    ("Natural Questions", "NQ"),
    ("Bidirectional Encoder Representations", "BERT-base"),
]

TEMPLATES = [
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
ALIAS_TEMPLATE = ("We release the {long} ({short}) and trained {m} on "
                  "{short} for reproducibility.")
DISTRACTORS = [
    "Prior work (Smith et al., 2019) reported similar findings [12,13].",
    "Great :-) thanks for the detailed explanation of the setup.",
    "See Fig. 6. The loss curves converge after roughly ten epochs.",
    "Ok sure.",
    "The samples are i.i.d. draws, e.g. from the validation pool partition.",
    "Accuracy improved from 91.2 to 93.7 after tuning the learning rate well.",
    "A very long descriptive phrase about An Extremely Long Entity Name That "
    "Should Be Filtered Out By The Word Limit appears here.",
    "Wilson et al. argued the comparison needed more careful ablation studies.",
    "Let me run the experiments again and report back with full numbers.",
]
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "python", "calculator", "browser"]
BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

_ONSETS = ["b", "br", "c", "d", "dr", "f", "g", "gr", "h", "j", "k", "kl",
           "l", "m", "n", "p", "pr", "qu", "r", "s", "st", "t", "tr", "v",
           "w", "z", "zh", "x"]
_VOWELS = ["a", "e", "i", "o", "u", "ae", "io", "ou"]
_CODAS = ["", "n", "r", "x", "l", "s", "th", "m", "nd", "rk"]


class Vocabulary:
    """Entity names for the three template slot kinds, plus the alias
    dictionary that links some of them."""

    def __init__(self, datasets, baselines, models, alias_pairs, aliases,
                 template_share=0.45):
        self.datasets, self.baselines = datasets, baselines
        self.models = models
        self.alias_pairs = alias_pairs
        self.aliases = aliases          # list of (alias, canonical) pairs
        #: share of a turn's sentences that fill a template with entities
        self.template_share = template_share

    def pick(self, rng: random.Random, kind: str) -> str:
        pool = {"d": self.datasets, "b": self.baselines,
                "m": self.models}[kind]
        names = rng.choice(pool)
        return rng.choice(names) if isinstance(names, tuple) else names

    def names(self) -> set[str]:
        out: set[str] = set()
        for pool in (self.datasets, self.baselines, self.models):
            for n in pool:
                out.update(n if isinstance(n, tuple) else (n,))
        return out


def narrow_vocabulary() -> Vocabulary:
    aliases = [(n, n) for n in NARROW_DATASETS + NARROW_BASELINES
               + NARROW_MODELS]
    for long, short in NARROW_ALIAS_PAIRS:
        canonical = (short if short in NARROW_DATASETS + NARROW_BASELINES
                     else long)
        aliases += [(long, canonical), (short, canonical),
                    (f"{long} ({short})", canonical)]
    return Vocabulary(NARROW_DATASETS, NARROW_BASELINES, NARROW_MODELS,
                      NARROW_ALIAS_PAIRS, aliases)


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                for _ in range(syllables)) + rng.choice(_CODAS)
    return w.capitalize()


def wide_vocabulary(seed: int, n_names: int,
                    template_share: float) -> Vocabulary:
    """``n_names`` generated base names, each with near-duplicate variants:
    hyphen or space, upper-cased head, a version suffix. Every third base
    name is in the alias dictionary (base spelling and its abbreviation)."""
    rng = random.Random(seed * 7919 + 17)
    seen: set[str] = set()
    families = []
    while len(families) < n_names:
        head = _word(rng, rng.randint(1, 2))
        tail = _word(rng, rng.randint(1, 2))
        if rng.random() < 0.4:
            tail = f"{tail}-{rng.randint(2, 99)}"
        base = f"{head} {tail}"
        if base.lower() in seen:
            continue
        seen.add(base.lower())
        variants = (base, f"{head}-{tail}", f"{head.upper()} {tail}",
                    f"{base} V{rng.randint(2, 5)}")
        families.append((head, tail, variants))
    pools: dict[str, list] = {"d": [], "b": [], "m": []}
    aliases: list[tuple[str, str]] = []
    alias_pairs = []
    for i, (head, tail, variants) in enumerate(families):
        pools["dbm"[i % 3]].append(variants)
        if i % 3 == 0:
            aliases.append((variants[0], variants[0]))
            short = (head[0] + tail[0]).upper() + str(i % 97)
            aliases.append((short, variants[0]))
            if len(alias_pairs) < 64:
                alias_pairs.append((variants[0], short))
    return Vocabulary(pools["d"], pools["b"], pools["m"], alias_pairs,
                      aliases, template_share)


def conversation(rng: random.Random, vocab: Vocabulary, conv_id: str,
                 ci: int, turn_range: range) -> list[dict]:
    """Turns ``turn_range`` of one conversation, in shuffled order."""
    conv_offset = timedelta(hours=ci % 100_000, seconds=ci // 100_000)
    rows = []
    for ti in turn_range:
        role = ROLES[ti % 3]
        parts = []
        for _ in range(rng.randint(1, 3)):
            r = rng.random()
            if r < vocab.template_share:
                parts.append(rng.choice(TEMPLATES).format(
                    m=vocab.pick(rng, "m"), d1=vocab.pick(rng, "d"),
                    d2=vocab.pick(rng, "d"), b1=vocab.pick(rng, "b"),
                    b2=vocab.pick(rng, "b")))
            elif r < vocab.template_share + 0.07:
                long, short = rng.choice(vocab.alias_pairs)
                parts.append(ALIAS_TEMPLATE.format(
                    long=long, short=short, m=vocab.pick(rng, "m")))
            else:
                parts.append(rng.choice(DISTRACTORS))
        rows.append({
            "conv_id": conv_id, "turn_idx": ti, "role": role,
            "text": " ".join(parts),
            "tool": rng.choice(TOOLS) if role == "tool" else None,
            "ts": BASE_TS + conv_offset + timedelta(seconds=30 * ti),
        })
    rng.shuffle(rows)
    return rows


def zipf_turns(rng: random.Random, ci: int, max_turns: int) -> int:
    return min(max_turns, max(2, int(max_turns / (ci + 1) ** 0.7))
               + rng.randint(-1, 1))


# ------------------------------------------------------------ writers

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
ALIAS_SCHEMA = pa.schema([("alias", pa.string()),
                          ("canonical_id", pa.string()),
                          ("prior", pa.float64())])


def write_multifile(rows: list[dict], schema: pa.Schema, path: Path,
                    n_files: int) -> int:
    """Rows split round-robin by conversation-free row order into
    ``n_files`` parquet files; returns the file count."""
    path.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    step = max(1, math.ceil(len(rows) / n_files))
    n = 0
    for i in range(0, max(len(rows), 1), step):
        pq.write_table(table.slice(i, step), path / f"part-{n:03d}.parquet")
        n += 1
    return n


def alias_rows(vocab: Vocabulary, seed: int) -> list[dict]:
    rng = random.Random(seed + 1)
    seen: set[str] = set()
    rows = []
    for alias, canonical in vocab.aliases:
        a = alias.lower().strip()
        if a and a not in seen:
            seen.add(a)
            rows.append({"alias": a,
                         "canonical_id": "ent_" + canonical.lower()
                         .replace(" ", "_"),
                         "prior": round(0.5 + rng.random() / 2, 6)})
    return rows


#: Input sizes per workload. kg_wide has fewer turns than kg_narrow but
#: draws its entity slots from thousands of names, and more of its
#: sentences carry entities, so canonicalization sees over 100 times
#: kg_narrow's surfaces.
#: ``text_pool``: kg_narrow's turns draw their texts from a pool this
#: large, so about half of them repeat an earlier turn, as in the engine's
#: 10^5-turn bench corpus (distinct-text ratio 0.52 there).
SHAPES = {
    "kg_narrow": {"n_convs": 1000, "max_turns": 40, "vocab": 0,
                  "text_pool": 2300},
    "kg_wide": {"n_convs": 1000, "max_turns": 40, "vocab": 8000,
                "template_share": 0.95, "text_pool": 0},
}
N_FILES = 8


def make_transcripts(workload: str, seed: int, root: Path) -> dict:
    """Write base transcripts, the delta table and the alias
    dictionary under ``root``; return the recorded input properties."""
    shape = SHAPES[workload]
    vocab = (wide_vocabulary(seed, shape["vocab"], shape["template_share"])
             if shape["vocab"] else narrow_vocabulary())
    rng = random.Random(seed * 1_000_003 + len(workload))
    n_convs, max_turns = shape["n_convs"], shape["max_turns"]
    sizes = [zipf_turns(rng, ci, max_turns) for ci in range(n_convs)]
    order = list(range(n_convs))
    rng.shuffle(order)          # conversation ids are not in size order
    pool = [t["text"] for t in conversation(rng, vocab, "", 0,
                                            range(shape["text_pool"]))]
    base: list[dict] = []
    for ci in range(n_convs):
        turns = conversation(rng, vocab, f"conv{order[ci]:08d}", order[ci],
                             range(sizes[ci]))
        if pool:
            for t in turns:
                t["text"] = rng.choice(pool)
        base += turns
    rng.shuffle(base)
    n_files = write_multifile(base, TRANSCRIPT_SCHEMA, root / "base", N_FILES)

    # delta: ~4% new conversations whose turns reuse base turn texts.
    # Extraction is per turn, so the delta names no entity surface the base
    # lacks and the append takes the incremental merge path; new surfaces
    # or grown conversations would send it down the full
    # re-canonicalization path, which costs more than a run can spend.
    texts = [r["text"] for r in base]
    delta: list[dict] = []
    for rank in range(max(4, n_convs // 25)):
        ci = n_convs + rank
        turns = conversation(rng, vocab, f"conv{ci:08d}", ci,
                             range(zipf_turns(rng, rank, max_turns)))
        for t in turns:
            t["text"] = rng.choice(texts)
        delta += turns
    write_multifile(delta, TRANSCRIPT_SCHEMA, root / "delta", 2)
    aliases = alias_rows(vocab, seed)
    pq.write_table(pa.Table.from_pylist(aliases, schema=ALIAS_SCHEMA),
                   root / "alias.parquet")
    return {
        "turns": len(base), "conversations": n_convs, "files": n_files,
        "distinct_text_ratio": round(len(set(texts)) / len(texts), 4),
        "distinct_entity_names": len(vocab.names()),
        "alias_rows": len(aliases), "delta_turns": len(delta),
    }


# ------------------------------------------------------------ query tables

_DOC_WORDS = ("join hash row batch scan column customer filter small slow "
              "merge order vector line table data agg value key stream "
              "window a spark part group big fast sort query the").split()
#: entry_queries' fixpoint seed phrase; without it the query has no input
FIXPOINT_SEED = "customer sort vector"
_PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
_PART_NOUN = ["rod", "gear", "anvil", "widget", "bolt", "ring", "spring",
              "valve"]


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def make_query_tables(seed: int, root: Path, scale: int = 300) -> dict:
    """One single-file parquet per table, as the contract queries read
    them (``{root}/{name}.parquet``). ``scale`` is the customer count;
    the other tables size off it with TPC-H ratios."""
    rng = random.Random(seed * 31 + 5)
    root.mkdir(parents=True, exist_ok=True)
    n_cust, n_orders, n_part, n_supp = scale, scale * 10, scale * 4 // 3, 20
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                    pa.int32()),
            "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                          for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(["FURNITURE", "BUILDING", "MACHINERY",
                                         "HOUSEHOLD", "AUTOMOBILE"])
                             for _ in range(n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                    pa.int32()),
            "s_acctbal": [round(rng.uniform(0, 9999), 2)
                          for _ in range(n_supp)]}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(["PROMO", "ECONOMY", "MEDIUM", "SMALL",
                                   "LARGE", "STANDARD"])
                       for _ in range(n_part)],
            "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)],
                               pa.int32()),
            "p_retailprice": [round(900 + i / 10, 2) for i in range(n_part)]}),
    }
    d0 = _ts("1995-01-01")
    o_dates = [d0 + timedelta(days=rng.randrange(2400))
               for _ in range(n_orders)]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(n_orders)],
        "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_orders)]})
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for ok in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(
                round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("NRA"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(o_dates[ok]
                                    + timedelta(days=rng.randint(1, 120)))
    perm = list(range(len(li["l_orderkey"])))
    rng.shuffle(perm)
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
             "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
             "l_shipdate": pa.timestamp("us")}
    tables["lineitem"] = pa.table({
        k: pa.array([v[i] for i in perm], types.get(k))
        for k, v in li.items()})

    n_ev, n_users = scale * 10, max(10, scale // 10)
    t0, ev_ts = _ts("2024-01-01"), []
    for _ in range(n_ev):
        ev_ts.append(t0 + timedelta(seconds=rng.uniform(0, 30 * 86400)))
    ev_ts.sort()
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)],
                            pa.int64()),
        "event_type": [rng.choice(["click", "purchase", "error", "signup",
                                   "view"]) for _ in range(n_ev)],
        "value": [round(rng.expovariate(1 / 50) + 0.01, 2)
                  for _ in range(n_ev)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_ev)]})
    n_docs = scale
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.08:   # reordered copies: dedup groups
            words = rng.choice(texts).split()
            rng.shuffle(words)
            texts.append(" ".join(words))
        else:
            words = [rng.choice(_DOC_WORDS)
                     for _ in range(rng.randint(20, 70))]
            if rng.random() < 0.03:     # the fixpoint query's seed phrase
                words.insert(rng.randrange(len(words)), FIXPOINT_SEED)
            texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "en", "en", "zh", "es", "de", "fr"])
                 for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = []
    for _ in range(n_docs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_docs)],
                          pa.int32())})
    for name, table in tables.items():
        pq.write_table(table, root / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def ensure_inputs(workload: str, seed: int, work: Path) -> tuple[Path, dict]:
    """Generate the inputs for (workload, seed) once; later runs with the
    same seed reuse them. ``props.json`` is written last and marks a
    complete set."""
    root = work / "inputs" / workload / f"seed{seed}"
    marker = root / "props.json"
    if marker.exists():
        return root, json.loads(marker.read_text())
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    props = make_transcripts(workload, seed, root)
    props["query_rows"] = make_query_tables(seed, root / "tables")
    marker.write_text(json.dumps(props, indent=1))
    return root, props

"""Seeded input generators for the benchmark workloads, and the input
properties each run prints beside its result.

Every generator is a pure function of its arguments (numpy
``default_rng(seed)``, no clock, no ``hash()``), so one seed always gives
byte-identical files and a different seed gives different files.
``check_cutovers`` fails loudly when an input lands on the wrong side of a
cutover it was built for.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

from antnre_spark import hashing, link
from fixtures import gen_transcripts

# transcript workloads: fixed turn counts so every seed does the same work
BATCH_TURNS = 1200
STREAM_TURNS = 1000
LONG_CONV_TURNS = 520  # > assemble.MAX_TURNS_PER_DOC: split into continuations
STREAM_FILES = 8  # 1 micro-batch at the 8-files-per-trigger default; a run has no time for more

# link_wide mention/relation tables: distinct surfaces ~3x the 30k
# local-link cutover, verified alias edges above the 100k local-CC cutover
WIDE_FAMILIES = 12000
WIDE_SINGLES = 30000
WIDE_BIG_FAMILY = 120  # > link.MAX_BUCKET members: the cap drops its bands
WIDE_RELATIONS = 60000
WIDE_HUB_SHARE = 0.2

# curate_dedup document table
UNIQUE_DOCS = 600
EXACT_GROUPS = (2,) * 40 + (3,) * 15 + (5,) * 5
FAMILY_SIZES = (2,) * 30 + (3,) * 15 + (5,) * 8 + (12,) * 2 + (40,) + (90,)
SHORT_DOCS = 30
DOC_TOKENS = (60, 120)
FAMILY_TOKENS = 160
BAND_CAP = 64  # dedup.minhash_dup_candidates max_bucket default

_SENT_BOUNDARY = re.compile(r"(?<=[.!?])\s+")


def transcripts(seed: int, n_turns: int) -> pa.Table:
    """``fixtures.gen_transcripts.generate`` cut to exactly ``n_turns``
    turns, whole conversations first. Keeps what the fixture plants: Zipf
    conversation lengths, one very long conversation (c000000), tool
    turns, alias and typo surfaces, the hub organisation and one duplicated
    (conv_id, turn_idx) with a later ts."""
    n_conv = n_turns // 2
    _gaz, rows, _gold = gen_transcripts.generate(
        n_conv=n_conv, skew_conv_turns=LONG_CONV_TURNS, seed=seed
    )
    rows = [r for r in rows if r["snapshot"] == 0]
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"], r["ts"].isoformat()))
    kept = rows[:n_turns]
    if len(kept) < n_turns:
        raise RuntimeError(f"generator gave {len(kept)} turns, need {n_turns}")
    return gen_transcripts._transcripts_table(kept)


def dedup_latest(table: pa.Table) -> pa.Table:
    """One row per (conv_id, turn_idx), latest ts wins — the batch path's
    C2 dedup. The stream does not dedup, so its input is written deduped
    and the oracle over it equals what the stream sees."""
    df = table.to_pandas()
    df = df.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
    df = df.drop_duplicates(["conv_id", "turn_idx"], keep="last")
    return pa.Table.from_pandas(df, schema=table.schema, preserve_index=False)


def stream_files(table: pa.Table, n_files: int) -> list[pa.Table]:
    """Contiguous slices in (conv_id, turn_idx) order, one per drop file."""
    n = table.num_rows
    bounds = [i * n // n_files for i in range(n_files + 1)]
    return [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


def transcript_properties(table: pa.Table, mentions, triples) -> dict:
    """Input properties of a transcript workload; ``mentions`` and
    ``triples`` are the oracle's frames for the same turns."""
    df = table.to_pandas()
    sents = [
        s
        for role, text in zip(df["role"], df["text"])
        if role in ("user", "assistant") and text
        for s in _SENT_BOUNDARY.split(text)
        if s
    ]
    conv_sizes = df.groupby("conv_id").size()
    surfaces = _distinct_surfaces(mentions)
    edge_rows, pairs = verified_edges(surfaces)
    evidence = triples.groupby("subj")["n_evidence"].sum()
    return {
        "turns": len(df),
        "conversations": int(conv_sizes.size),
        "sentences": len(sents),
        "repeated_sentence_share": round(1 - len(set(sents)) / len(sents), 4),
        "longest_conv_share": round(int(conv_sizes.max()) / len(df), 4),
        "distinct_surfaces": len(surfaces),
        "local_link_max_surfaces": link.LOCAL_LINK_MAX_SURFACES,
        "verified_edge_rows": edge_rows,
        "verified_pairs": pairs,
        "local_cc_max_edges": link.LOCAL_CC_MAX_EDGES,
        "hub_share": round(float(evidence.max() / evidence.sum()), 4),
    }


def _distinct_surfaces(mentions) -> list[tuple[str, str]]:
    return sorted(
        {
            (t, link_norm(s))
            for t, s in zip(mentions["ent_type"], mentions["surface"])
        }
    )


def link_norm(s: str) -> str:
    """``link.normalize_surface`` in Python: collapse whitespace, trim,
    lowercase."""
    return re.sub(r"\s+", " ", s).strip(" ").lower()


def verified_edges(surfaces: list[tuple[str, str]], with_candidates: bool = False):
    """(edge rows, distinct pairs) that ``link.candidate_pairs`` would
    verify over these surfaces: an edge row per agreeing band under the
    ``MAX_BUCKET`` cap, as ``connected_components`` counts them against
    ``LOCAL_CC_MAX_EDGES``; with ``with_candidates`` also the distinct
    candidate pairs the band join proposes."""
    grams = {k: hashing.gram_codes(k[1]) for k in surfaces}
    sigs = hashing.minhash_signatures_bulk([grams[k] for k in surfaces])
    buckets: dict[tuple, list] = {}
    for k, sig in zip(surfaces, sigs):
        for band in hashing.band_keys(sig):
            buckets.setdefault((k[0], band), []).append(k)
    verdict: dict[tuple, bool] = {}
    rows = 0
    for members in buckets.values():
        if len(members) > link.MAX_BUCKET:
            continue
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                key = (a, b) if a < b else (b, a)
                ok = verdict.get(key)
                if ok is None:
                    j = hashing.jaccard(grams[a], grams[b])
                    ok = j >= link.JACCARD_TAU and (
                        j >= hashing.TAU_HI
                        or hashing.levenshtein(a[1], b[1]) <= hashing.LEV_MAX
                    )
                    verdict[key] = ok
                rows += ok
    if with_candidates:
        return rows, sum(verdict.values()), len(verdict)
    return rows, sum(verdict.values())


# ---- link_wide ---------------------------------------------------------------

_SYLLABLES = [
    "ka", "zor", "vel", "mi", "tra", "pon", "lu", "dex", "shi", "bran", "quo",
    "fen", "ri", "gal", "mor", "tu", "nix", "ose", "pel", "ya", "thar", "ek",
    "lio", "sab", "ur", "dri", "vo", "chen", "ip", "rask",
]
_WIDE_TYPES = ("Peop", "Org", "Loc")
_PREDS = ("Work_For", "Live_In", "Located_In", "OrgBased_In", "Kill")


def _name(rng: np.random.Generator, words: int = 2) -> str:
    return " ".join(
        "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), size=int(rng.integers(2, 4)))).title()
        for _ in range(words)
    )


def _variants(rng: np.random.Generator, base: str, k: int) -> list[str]:
    """``k`` distinct one-edit variants of ``base`` (a deleted, doubled or
    replaced letter): typo aliases within MinHash/Levenshtein reach."""
    out: set[str] = set()
    letters = [i for i, c in enumerate(base) if c.isalpha()]
    while len(out) < k:
        i = letters[int(rng.integers(0, len(letters)))]
        op = int(rng.integers(0, 3))
        if op == 0:
            v = base[:i] + base[i + 1 :]
        elif op == 1:
            v = base[:i] + base[i] + base[i:]
        else:
            v = base[:i] + "aeiouy"[int(rng.integers(0, 6))] + base[i + 1 :]
        if v != base and link_norm(v) != link_norm(base):
            out.add(v)
    return sorted(out)


def wide_tables(seed: int) -> tuple[pa.Table, pa.Table, list[str]]:
    """(mentions, relations, hub family surfaces) in the schema extract_job
    writes: alias
    families of 2-8 one-edit variants, singletons, one family larger than
    the band cap, Zipf mention counts per surface and one hub subject
    carrying WIDE_HUB_SHARE of the relations."""
    rng = np.random.default_rng(seed)
    surfaces: list[tuple[str, str, int]] = []  # (ent_type, surface, family)
    seen: set[tuple[str, str]] = set()

    def add(ent_type: str, names: list[str], fam: int) -> None:
        for n in names:
            key = (ent_type, link_norm(n))
            if key not in seen:
                seen.add(key)
                surfaces.append((ent_type, n, fam))

    for fam in range(WIDE_FAMILIES):
        t = _WIDE_TYPES[fam % 3]
        base = _name(rng)
        add(t, [base] + _variants(rng, base, int(rng.integers(1, 8))), fam)
    for i in range(WIDE_SINGLES):
        add(_WIDE_TYPES[i % 3], [_name(rng, 3)], WIDE_FAMILIES + i)
    big = _name(rng, 3)
    hub_family = WIDE_FAMILIES + WIDE_SINGLES
    add("Org", [big] + _variants(rng, big, WIDE_BIG_FAMILY - 1), hub_family)

    counts = np.minimum(rng.zipf(2.5, size=len(surfaces)), 100)
    m_rows: dict[str, list] = {k: [] for k in (
        "conv_id", "turn_idx", "sent_idx", "mention_id", "begin", "end",
        "ent_type", "surface", "conf")}
    for si, ((t, surf, _fam), n) in enumerate(zip(surfaces, counts)):
        for j in range(int(n)):
            conv = f"w{si:06d}"
            m_rows["conv_id"].append(conv)
            m_rows["turn_idx"].append(j)
            m_rows["sent_idx"].append(0)
            m_rows["mention_id"].append(f"{conv}:{j}:0:0-{len(surf.split())}")
            m_rows["begin"].append(0)
            m_rows["end"].append(len(surf.split()))
            m_rows["ent_type"].append(t)
            m_rows["surface"].append(surf)
            m_rows["conf"].append(0.9)
    mentions = pa.table(m_rows).cast(pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("sent_idx", pa.int32()),
        ("mention_id", pa.string()), ("begin", pa.int32()), ("end", pa.int32()),
        ("ent_type", pa.string()), ("surface", pa.string()), ("conf", pa.float64()),
    ]))
    hub_ids = [i for i, s in enumerate(surfaces) if s[2] == hub_family]
    n_m = mentions.num_rows
    r_rows: dict[str, list] = {k: [] for k in (
        "conv_id", "turn_idx", "sent_idx", "subj_mention_id", "obj_mention_id",
        "subj_ent_type", "subj_surface", "obj_ent_type", "obj_surface", "pred",
        "conf")}
    conv_col = m_rows["conv_id"]
    mid_col = m_rows["mention_id"]
    for r in range(WIDE_RELATIONS):
        if rng.random() < WIDE_HUB_SHARE:
            si = hub_ids[int(rng.integers(0, len(hub_ids)))]
            t, surf, _fam = surfaces[si]
            subj = (t, surf, f"w{si:06d}:0:0:0-{len(surf.split())}")
        else:
            k = int(rng.integers(0, n_m))
            subj = (m_rows["ent_type"][k], m_rows["surface"][k], mid_col[k])
        k = int(rng.integers(0, n_m))
        r_rows["conv_id"].append(conv_col[k])
        r_rows["turn_idx"].append(r)
        r_rows["sent_idx"].append(0)
        r_rows["subj_mention_id"].append(subj[2])
        r_rows["obj_mention_id"].append(mid_col[k])
        r_rows["subj_ent_type"].append(subj[0])
        r_rows["subj_surface"].append(subj[1])
        r_rows["obj_ent_type"].append(m_rows["ent_type"][k])
        r_rows["obj_surface"].append(m_rows["surface"][k])
        r_rows["pred"].append(_PREDS[int(rng.integers(0, len(_PREDS)))])
        r_rows["conf"].append(0.8)
    relations = pa.table(r_rows).cast(pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("sent_idx", pa.int32()),
        ("subj_mention_id", pa.string()), ("obj_mention_id", pa.string()),
        ("subj_ent_type", pa.string()), ("subj_surface", pa.string()),
        ("obj_ent_type", pa.string()), ("obj_surface", pa.string()),
        ("pred", pa.string()), ("conf", pa.float64()),
    ]))
    return mentions, relations, [surfaces[i][1] for i in hub_ids]


def wide_properties(mentions: pa.Table, relations: pa.Table, hub: list[str]) -> dict:
    m = mentions.to_pandas()
    surfaces = _distinct_surfaces(m)
    edge_rows, pairs, candidates = verified_edges(surfaces, with_candidates=True)
    hub_set = set(hub)
    subj = relations.column("subj_surface").to_pylist()
    return {
        "mention_rows": mentions.num_rows,
        "relations": relations.num_rows,
        "distinct_surfaces": len(surfaces),
        "local_link_max_surfaces": link.LOCAL_LINK_MAX_SURFACES,
        "candidate_pairs": candidates,
        "verified_pairs": pairs,
        "verified_edge_rows": edge_rows,
        "local_cc_max_edges": link.LOCAL_CC_MAX_EDGES,
        "max_mentions_per_surface": int(m.groupby("surface").size().max()),
        "hub_share": round(sum(x in hub_set for x in subj) / len(subj), 4),
        "hub_family_surfaces": len(hub),
        "max_bucket": link.MAX_BUCKET,
    }


# ---- curate_dedup ----------------------------------------------------------


def _vocab(rng: np.random.Generator, n: int = 4000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def documents(seed: int) -> tuple[pa.Table, dict]:
    """Seeded document table for ``curate_corpus`` plus the families
    built into it: ``{"exact": [[ids]], "families": [[ids]],
    "short": [ids], "unique": [ids]}``.

    - unique documents: random word sequences, far from each other;
    - exact groups: one text repeated with case/whitespace changes;
    - near-duplicate families: a base text and members that each change
      one token at their own position, so every pair keeps word-3-gram
      Jaccard >= 0.9; one family is larger than the band cap;
    - short documents under curate_corpus' default ``min_tokens`` gate.
    Doc ids are a seeded permutation, so keepers are not the first rows."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)

    def text(n_tokens: int) -> list[str]:
        return [vocab[i] for i in rng.integers(0, len(vocab), size=n_tokens)]

    texts: list[str] = []
    groups: dict[str, list[list[int]]] = {"exact": [], "families": []}
    short: list[int] = []
    unique: list[int] = []

    def add(t: str) -> int:
        texts.append(t)
        return len(texts) - 1

    for _ in range(UNIQUE_DOCS):
        unique.append(add(" ".join(text(int(rng.integers(*DOC_TOKENS))))))
    for size in EXACT_GROUPS:
        base = text(int(rng.integers(*DOC_TOKENS)))
        ids = [add(" ".join(base))]
        for k in range(1, size):
            variant = " ".join(base).upper() if k % 2 else "  ".join(base)
            ids.append(add(variant))
        groups["exact"].append(ids)
    for size in FAMILY_SIZES:
        base = text(FAMILY_TOKENS)
        ids = [add(" ".join(base))]
        positions = rng.choice(
            np.arange(1, FAMILY_TOKENS - 1), size=size - 1, replace=False
        )
        for pos in positions:
            variant = list(base)
            variant[int(pos)] = vocab[int(rng.integers(0, len(vocab)))] + "x"
            ids.append(add(" ".join(variant)))
        groups["families"].append(ids)
    for _ in range(SHORT_DOCS):
        short.append(add(" ".join(text(int(rng.integers(1, 4))))))

    perm = rng.permutation(len(texts))  # position -> doc_id
    doc_ids = [int(perm[i]) for i in range(len(texts))]
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(
                [("web", "books", "forum")[i % 3] for i in range(len(texts))],
                pa.string(),
            ),
        }
    )
    truth = {
        "exact": [[doc_ids[i] for i in g] for g in groups["exact"]],
        "families": [[doc_ids[i] for i in g] for g in groups["families"]],
        "short": [doc_ids[i] for i in short],
        "unique": [doc_ids[i] for i in unique],
    }
    return table, truth


def expected_survivors(truth: dict) -> tuple[set[int], set[int]]:
    """(doc ids curate_corpus must keep, doc ids not judged). Exact groups
    and families at or under the band cap reduce to their min doc id;
    short documents fail the quality gate; the oversized family is left
    out of the judgement (its recall loss is what band_dropped_ppm
    reports)."""
    keep = set(truth["unique"])
    keep |= {min(g) for g in truth["exact"]}
    skipped: set[int] = set()
    for fam in truth["families"]:
        if len(fam) > BAND_CAP:
            skipped |= set(fam)
        else:
            keep.add(min(fam))
    return keep, skipped


def document_properties(table: pa.Table, truth: dict) -> dict:
    fams = sorted(len(f) for f in truth["families"])
    texts = table.column("text").to_pylist()
    norm = [" ".join(t.lower().split()) for t in texts]
    return {
        "documents": table.num_rows,
        "exact_duplicate_rows": sum(len(g) - 1 for g in truth["exact"]),
        "repeated_text_share": round(1 - len(set(norm)) / len(norm), 4),
        "families": len(fams),
        "family_max": fams[-1],
        "families_over_band_cap": sum(f > BAND_CAP for f in fams),
        "band_cap": BAND_CAP,
        "short_docs": len(truth["short"]),
    }


def check_cutovers(workload: str, props: dict) -> None:
    """Fail loudly if an input is on the wrong side of a cutover it was
    built for."""
    bad = []
    if workload in ("batch_kg", "stream_kg"):
        if props["distinct_surfaces"] > link.LOCAL_LINK_MAX_SURFACES:
            bad.append("distinct surfaces above LOCAL_LINK_MAX_SURFACES")
        if props["verified_edge_rows"] > link.LOCAL_CC_MAX_EDGES:
            bad.append("verified edges above LOCAL_CC_MAX_EDGES")
        if props["longest_conv_share"] < 0.1:
            bad.append("no long conversation")
    if workload == "link_wide":
        if props["distinct_surfaces"] < 2 * link.LOCAL_LINK_MAX_SURFACES:
            bad.append("distinct surfaces under twice LOCAL_LINK_MAX_SURFACES")
        if props["verified_edge_rows"] <= link.LOCAL_CC_MAX_EDGES:
            bad.append("verified edges at or under LOCAL_CC_MAX_EDGES")
    if workload == "curate_dedup":
        if props["families_over_band_cap"] != 1:
            bad.append("need exactly one family above the band cap")
        if props["exact_duplicate_rows"] == 0:
            bad.append("no exact duplicates")
    if bad:
        raise RuntimeError(f"{workload} input off its cutover: {bad}")

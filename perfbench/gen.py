"""Seeded input generators for the three benchmark workloads.

Everything here is plain Python (no Spark), so the same seed always
gives byte-identical inputs, and the generator can state the answer the
program must reach:

- ``make_crawl`` plants every duplicate the D1-D4 dedup stages remove and
  the quality-gate outcome of every paper, so the expected
  ``PipelineCounts`` are known before the pipeline runs.
- ``make_papers`` is the aligned-paper universe the enrichment workload
  draws delta batches from.
- ``make_corpus`` and ``question_at`` feed the RAG question loop.
"""

from __future__ import annotations

import json
import random
import string

# Gate classes and the drop reason each must produce (the final_build
# quality gate checks title, abstract, overall, depth, confidence in
# that order; a paper with no scores row gets all-zero scores).
GATE_REASON = {
    "pass": None,
    "low_overall": "low_overall",
    "low_depth": "low_depth",
    "low_confidence": "low_confidence",
    "no_scores": "low_overall",
    "title_short": "title_too_short",
    "abstract_short": "abstract_too_short",
}
GATE_WEIGHTS = {
    "pass": 50,
    "low_overall": 10,
    "low_depth": 8,
    "low_confidence": 8,
    "no_scores": 10,
    "title_short": 4,
    "abstract_short": 10,
}

# Score payloads per class, with the string and out-of-range values the
# validation path must repair ("8.5/10" -> 8.5, 15 -> 10, 1.7 kept).
SCORES = {
    "pass": ["8.5/10", "9", "8", "15", "0.8"],
    "low_overall": ["3", "3", "3", "3", "0.9"],
    "low_depth": ["9", "5", "9", "9", "0.9"],
    "low_confidence": ["8", "8", "8", "8", "0.4"],
    "title_short": ["9", "9", "9", "9", "1.7"],
    "abstract_short": ["9", "9", "9", "9", "0.9"],
}
SCORE_FIELDS = ["novelty", "technical_depth", "clarity", "impact_potential", "confidence"]

LATEX_NOISE = ["$x^2$", "$$\\int_0^1 f(x)\\,dx$$", "\\textbf{bold claim}", "\\alpha", "&amp;", "&lt;"]
NON_ASCII_NOISE = ["é", "ü", "—", "汉字"]
CATEGORIES = ["cs.CV", "cs.AI", "cs.LG", "cs.CL", "cs.RO", "math.OC"]
FIELDS = [" machine learning ", "MACHINE LEARNING", "computer vision", "Robotics ", "nlp", ""]


DUP_WEIGHTS = {"none": 83, "d1": 3, "d1_null": 1, "null_id": 1, "d3": 4, "d4": 4, "d4_ws": 2, "straddle": 2}


def _exact(rng: random.Random, weights: dict[str, int], n: int) -> list[str]:
    """``n`` labels in proportion to ``weights`` (largest remainder), shuffled."""
    total = sum(weights.values())
    counts = {k: n * w // total for k, w in weights.items()}
    by_remainder = sorted(weights, key=lambda k: -(n * weights[k] % total))
    for k in by_remainder[: n - sum(counts.values())]:
        counts[k] += 1
    labels = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(labels)
    return labels


def vocabulary(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct pseudo-words of 5-9 letters. Words are unique, so
    two titles drawn from it share a token only where one was planted."""
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(5, 9))))
    return sorted(words)


def _abstract(rng: random.Random, vocab: list[str], long: bool) -> str:
    """Long abstracts clean to >= 240 chars, short ones to < 70, so the
    120-char gate never sits near an edge. Noise tokens (LaTeX, entities,
    non-ASCII) are whole tokens that the cleanse chain deletes or blanks."""
    if not long:
        return " ".join(rng.sample(vocab, rng.randint(0, 6)))
    words: list[str] = []
    while len(" ".join(words)) < 260:
        words.append(rng.choice(vocab))
    for _ in range(rng.randint(0, 3)):
        words.insert(rng.randrange(len(words) + 1), rng.choice(LATEX_NOISE + NON_ASCII_NOISE))
    lead = "  " if rng.random() < 0.2 else ""
    return lead + " ".join(words).replace(" ", "   ", rng.randint(0, 2))


def _authors(rng: random.Random, vocab: list[str]) -> list:
    names: list = [f"{rng.choice(vocab).title()} {rng.choice(vocab).title()}" for _ in range(rng.randint(0, 6))]
    if names and rng.random() < 0.2:
        names.insert(rng.randrange(len(names) + 1), rng.choice([None, "", "  "]))
    return names


def make_crawl(seed: int, n_papers: int) -> dict:
    """A three-source crawl (arXiv, Semantic Scholar, OpenAlex shapes) with
    planted duplicates, malformed lines and gate classes.

    Returns ``{"sources": {name: [jsonl line, ...]}, "sides": {name: [row
    dict, ...]}, "records": well-formed crawl records, "expected":
    {PipelineCounts field: value}}``.
    """
    rng = random.Random(seed)
    vocab = vocabulary(rng, 6000)
    pool = iter(rng.sample(vocab, len(vocab)))  # title tokens, each used once
    classes = list(GATE_WEIGHTS)
    weights = [GATE_WEIGHTS[c] for c in classes]

    rows: dict[str, list[dict]] = {"arxiv": [], "s2": [], "openalex": []}
    # (paper_id, gate class) of every row carrying an id, for the side tables
    id_class: dict[str, str] = {}
    d1 = d3 = d4 = 0
    survivors: list[str] = []  # gate class of every paper that survives D4

    def title_tokens(n: int) -> list[str]:
        return [next(pool) for _ in range(n)]

    def row(src: str, pid: str | None, title: str, abstract: str, cls: str) -> dict:
        year = rng.randint(2023, 2026)
        r: dict = {"source": src, "title": title, "abstract": abstract, "authors": _authors(rng, vocab)}
        if pid is not None:
            r["paper_id"] = pid
        if src == "arxiv":
            r["publish_date"] = f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            r["url"] = f"http://arxiv.org/abs/{pid}" if rng.random() > 0.05 else f"https://user:pw@arxiv.org/abs/{pid}"
            if rng.random() > 0.1:
                r["categories"] = rng.sample(CATEGORIES, rng.randint(1, 3))
        else:
            r["publish_year"] = year
            r["fields_of_study"] = rng.sample(FIELDS, rng.randint(0, 4))
            r["url"] = f"https://example.org/{pid}"
            if src == "s2":
                r["publish_date"] = str(year)
            else:
                r["abstract_source"] = rng.choice(["openalex", ""])
                r["venue"] = rng.choice(["", "NeurIPS", "CVPR", "ACL"])
                # FIXTURES.md §2 also has string counts such as "12 citations".
                # They are left out: the program's ANSI cast in align_stage
                # fails the whole job on them (README, "Known limits").
                if rng.random() > 0.1:
                    r["citation_count"] = min(int(rng.paretovariate(1.2)) - 1, 500)
        if pid:
            id_class[pid] = cls
        return r

    # Exact counts per gate class, duplicate kind and source (only their
    # order is random), so every seed gives the program the same amount
    # and shape of work.
    cls_list = _exact(rng, GATE_WEIGHTS, n_papers)
    kind_list = _exact(rng, DUP_WEIGHTS, n_papers)
    src_list = _exact(rng, {"arxiv": 2, "s2": 1, "openalex": 1}, n_papers)
    for i, cls in enumerate(cls_list):
        if cls == "title_short" and kind_list[i] not in ("none", "d1"):
            j = next(j for j, k in enumerate(kind_list) if k == "none" and cls_list[j] != "title_short")
            kind_list[i], kind_list[j] = kind_list[j], kind_list[i]

    for i in range(n_papers):
        cls, kind, src = cls_list[i], kind_list[i], src_list[i]
        pid = f"2511.{i:05d}" if src == "arxiv" else (f"S2-{i:06d}" if src == "s2" else f"W{i:07d}")
        abstract = _abstract(rng, vocab, long=cls != "abstract_short")
        if cls == "title_short":
            toks = [f"N{i:05d}"]  # unique and under the 8-char gate
        else:
            # 9 tokens + 1 -> Jaccard 0.90 (removed), 19 + 1 -> 0.95
            # (removed), 17 + 3 -> 0.85 (kept): the FIXTURES §8 straddle.
            n_toks = {"d4": rng.choice([9, 19]), "straddle": 17}.get(kind, rng.choice([10, 12, 14]))
            toks = title_tokens(n_toks)
        title = " ".join(toks).capitalize()
        if kind in ("null_id", "d1_null"):
            pid = None if rng.random() < 0.5 else ""
            if cls not in ("title_short", "abstract_short"):
                cls = "no_scores"  # an id-less paper can join no scores row
        rows[src].append(row(src, pid, title, abstract, cls))
        survivors.append(cls)
        other = rng.choice(["arxiv", "s2", "openalex"])
        if kind == "d1":
            # same id again (same content): D1's merge key drops it
            rows[other].append(row(other, pid, title, abstract, cls))
            d1 += 1
        elif kind == "d1_null":
            # id-less twin with the same title: D1 falls back to the title
            rows[other].append(row(other, rng.choice([None, ""]), title, abstract, cls))
            d1 += 1
        elif kind == "d3":
            # new id, title differing only by case and outer whitespace
            rows[other].append(row(other, f"D3-{i:06d}", f"  {title.upper()} ", abstract, cls))
            d3 += 1
        elif kind == "d4":
            rows[other].append(row(other, f"D4-{i:06d}", f"{title} {next(pool)}", abstract, cls))
            d4 += 1
        elif kind == "d4_ws":
            # inner whitespace runs: a different D3 hash, the same D4 token set
            rows[other].append(row(other, f"D4W-{i:06d}", "  ".join(toks), abstract, cls))
            d4 += 1
        elif kind == "straddle":
            extra = " ".join(title_tokens(3))
            twin_cls = rng.choices(classes[:5], weights[:5])[0]
            twin_abstract = _abstract(rng, vocab, long=True)
            rows[other].append(row(other, f"J85-{i:06d}", f"{title} {extra}", twin_abstract, twin_cls))
            survivors.append(twin_cls)

    sources: dict[str, list[str]] = {}
    n_valid = 0
    for src, recs in rows.items():
        lines = [json.dumps(r) for r in recs]
        n_valid += len(lines)
        for _ in range(max(1, len(lines) // 100)):
            lines.insert(rng.randrange(len(lines) + 1), rng.choice(['{"source": "arxiv", "title": ', "not json at all", '{"paper_id": "x"']))
        sources[src] = lines

    sides = _side_tables(rng, vocab, id_class)
    reasons: dict[str, int] = {}
    for cls in survivors:
        reason = GATE_REASON[cls]
        if reason:
            reasons[reason] = reasons.get(reason, 0) + 1
    merged = n_valid - d1
    expected = {
        "merged": merged,
        "after_id_dedup": merged,  # D1 already made non-empty ids unique
        "after_title_hash": merged - d3,
        "after_similarity": merged - d3 - d4,
        "after_citation_filter": merged - d3 - d4,  # min_citations=0, no negative counts
        "final": sum(1 for c in survivors if GATE_REASON[c] is None),
        "drop_reasons": reasons,
    }
    assert expected["final"] + sum(reasons.values()) == expected["after_similarity"]
    return {"sources": sources, "sides": sides, "records": n_valid, "expected": expected}


def _side_tables(rng: random.Random, vocab: list[str], id_class: dict[str, str]) -> dict:
    """The four enrichment side tables, one row per id at most. Scores
    follow the paper's gate class; the other three cover ~90% of ids and
    carry the duplicate and over-long values the final build trims."""
    sides: dict[str, list[dict]] = {"scores": [], "keywords": [], "fields": [], "contributions": []}
    for pid, cls in sorted(id_class.items()):
        if cls != "no_scores":
            sides["scores"].append({"paper_id": pid, **dict(zip(SCORE_FIELDS, SCORES[cls]))})
        if rng.random() < 0.9:
            kws = [rng.choice(vocab) for _ in range(rng.randint(0, 10))]
            sides["keywords"].append({"paper_id": pid, "keywords": kws + kws[:2]})
        if rng.random() < 0.9:
            sides["fields"].append({"paper_id": pid, "fields_enriched": rng.sample(FIELDS, rng.randint(1, 4))})
        if rng.random() < 0.9:
            problem = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 80)))
            sides["contributions"].append({"paper_id": pid, "problem": problem, "method": rng.choice(vocab)})
    return sides


ALIGNED_KEYS = ["source", "paper_id", "title", "abstract", "abstract_source", "authors",
                "publish_year", "venue", "citation_count", "fields_of_study", "url"]


def make_papers(seed: int, n: int) -> list[dict]:
    """``n`` canonical (aligned) papers with a numeric id ``nid`` — the
    key the enrichment passes carry — and ``paper_id = 2511.<nid>``."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, 3000)
    papers = []
    for nid in range(n):
        papers.append({
            "nid": nid,
            "source": rng.choice(["arxiv", "s2", "openalex"]),
            "paper_id": paper_id(nid),
            "title": " ".join(rng.sample(vocab, rng.randint(6, 14))).capitalize(),
            "abstract": " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 60))),
            "abstract_source": "original_cleaned",
            "authors": [rng.choice(vocab).title() for _ in range(rng.randint(1, 5))],
            "publish_year": rng.randint(2023, 2026),
            "venue": rng.choice(["", "NeurIPS", "CVPR"]),
            "citation_count": rng.randint(0, 200),
            "fields_of_study": rng.sample(["Machine Learning", "Computer Vision", "Robotics"], rng.randint(0, 2)),
            "url": f"http://arxiv.org/abs/{paper_id(nid)}",
        })
    return papers


def paper_id(nid: int) -> str:
    return f"2511.{nid:05d}"


def delta_batch(seed: int, op: int, done: int, fresh: int, size: int, new: int) -> list[int]:
    """nids of op ``op``'s batch: ``size - new`` drawn from the ``done``
    already-checkpointed papers (nids ``[0, done)``) and ``new`` from the
    ``fresh`` pool (nids ``[done, done + fresh)``)."""
    rng = random.Random(seed * 1_000_003 + op)
    return sorted(rng.sample(range(done), size - new) + rng.sample(range(done, done + fresh), new))


def make_corpus(seed: int, n_docs: int) -> tuple[list[dict], list[str]]:
    """Documents ``(doc_id, text)`` whose words follow a Zipf law over a
    shared vocabulary (so vectors overlap like real text), and a pool of
    questions drawn from the same words."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, 1500)
    zipf = [1.0 / (r + 1) for r in range(len(vocab))]
    docs = [
        {"doc_id": d, "text": " ".join(rng.choices(vocab, zipf, k=rng.randint(20, 80)))}
        for d in range(n_docs)
    ]
    questions = [" ".join(rng.choices(vocab, zipf, k=rng.randint(3, 9))) for _ in range(400)]
    return docs, questions


def question_at(seed: int, k: int, pool: int, exponent: float = 1.1) -> int:
    """Index of op ``k``'s question: a seeded Zipf draw over the pool, so
    popular questions repeat. Depends only on ``(seed, k)``."""
    rng = random.Random(seed * 1_000_003 + k)
    rank = rng.choices(range(pool), [1.0 / (r + 1) ** exponent for r in range(pool)])[0]
    return (rank * 7919 + seed) % pool

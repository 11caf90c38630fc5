"""Single-process pure-Python oracle implementing the reference semantics.

Used ONLY by pytest (SURVEY.md §5.2): an independent, non-Spark implementation
of head extraction (head-pattern.ts:14-36) + ordered first-match-wins template
matching (regex-worker-pool.ts:67-112) + per-template counting, to which the
distributed operators must agree exactly.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import pyarrow.parquet as pq

from log_parser_cli_spark.operators.matcher import python_regex


@dataclass
class OracleMatch:
    doc_id: str
    template_id: str | None
    variables: dict[str, str]
    content: str | None
    head_matched: bool


def load_fixture_table(fixture_dir: str, name: str) -> list[dict]:
    return pq.read_table(os.path.join(fixture_dir, f"{name}.parquet")).to_pylist()


def oracle_match(fixture_dir: str) -> list[OracleMatch]:
    """Head-extract + ordered regex first-match over every sequence."""
    vocab = {r["token_id"]: r["text"] for r in load_fixture_table(fixture_dir, "vocab")}
    sources = {r["source"]: r for r in load_fixture_table(fixture_dir, "sources")}
    head_rx = {s: python_regex(r["head_pattern"]) for s, r in sources.items()}
    templates = load_fixture_table(fixture_dir, "templates")
    per_source: dict[str, list] = {}
    for t in sorted(templates, key=lambda t: (t["source"], t["created_at"], t["template_id"])):
        per_source.setdefault(t["source"], []).append((t["template_id"], python_regex(t["pattern"])))

    out: list[OracleMatch] = []
    for row in load_fixture_table(fixture_dir, "sequences"):
        line = " ".join(vocab[t] for t in row["tokens"])
        src = row["source"]
        m = head_rx[src].match(line)
        if m is None:
            out.append(OracleMatch(row["doc_id"], None, {}, None, False))
            continue
        content = m.group(sources[src]["content_group"])
        tid, variables = None, {}
        for cand_id, rx in per_source.get(src, []):
            mm = rx.fullmatch(content)
            if mm is not None:
                tid = cand_id
                variables = {k: v for k, v in mm.groupdict().items() if v is not None}
                break
        out.append(OracleMatch(row["doc_id"], tid, variables, content, True))
    return out


def oracle_counts(matches: list[OracleMatch], sequences: list[dict]) -> Counter:
    """(source, template_id) → count, with __UNPARSED__/__UNMATCHED__ buckets."""
    src_by_doc = {r["doc_id"]: r["source"] for r in sequences}
    counts: Counter = Counter()
    for m in matches:
        key = m.template_id if m.template_id else ("__UNPARSED__" if not m.head_matched else "__UNMATCHED__")
        counts[(src_by_doc[m.doc_id], key)] += 1
    return counts

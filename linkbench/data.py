"""Seeded workload inputs, written once per (workload, seed) as parquet.

Generation runs before any timed region. The program under test only reads
``input.parquet``; the ground truth sits beside it in ``truth.parquet`` and
is read by the benchmark's checks alone. Only the generated input is cached:
counts that depend on the program (candidate pairs, distinct payloads) are
taken again in every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import string

import numpy as np
import pandas as pd

from engine import ROOT

DATA = os.path.join(ROOT, ".linkbench_data")

PERSON_ENTITIES = 2500
CHECKPOINT_ENTITIES = 1000
REPOS = 13500
FILES_PER_REPO = 4
DOCS = 2000
NEAR_DUP_FRAC = 0.3
DOC_TOKENS = 60
TOKEN_EDIT_FRAC = 0.05

_SOUNDEX_LETTERS = "bcdlmr"  # one consonant per soundex code 1..6


def account_handle(owner: str) -> str:
    """The owner's numeric suffix written as four letters whose soundex
    code is distinct for 3900 suffixes (lead letter, then three codes with
    no two neighbours equal, since soundex merges equal neighbours)."""
    m = re.search(r"(\d+)$", owner)
    n = int(m.group(1)) if m else 0
    lead = string.ascii_lowercase[n // 150 % 26]
    rest = n % 150
    c0 = rest // 25
    c1 = [c for c in range(6) if c != c0][rest // 5 % 5]
    c2 = [c for c in range(6) if c != c1][rest % 5]
    return lead + "".join(_SOUNDEX_LETTERS[c] for c in (c0, c1, c2))


def person_input(n_entities: int, seed: int):
    from name_matching_spark import datagen

    pdf = datagen.person_records(n_entities=n_entities, dup_rate=0.4, seed=seed, skew=True)
    return pdf.drop(columns=["entity_id"]), pdf[["record_id", "entity_id"]]


def repo_input(seed: int):
    """Person-shaped rows from the source-repository table: first name <-
    repo owner, middle+last <- file stem, repo name and the owner's account
    handle, geography analog <- lang. Nearly every row has its own scoring
    payload."""
    from name_matching_spark import datagen

    sf = datagen.source_files(
        n_repos=REPOS, files_per_repo=FILES_PER_REPO, dup_rate=0.3, seed=seed
    )
    owner = sf["repo"].str.split("/").str[0]
    name = sf["repo"].str.split("/").str[1].str.replace("-", " ")
    stem = sf["path"].str.extract(r"([A-Za-z]+_\d)")[0]
    handle = owner.map(account_handle)
    ids = np.arange(len(sf), dtype=np.int64)
    inp = pd.DataFrame({
        "record_id": ids,
        "first_name": owner,
        "middle_name_last_name": stem + " " + name + " " + handle,
        "province_name": sf["lang"],
    })
    return inp, pd.DataFrame({"record_id": ids, "entity_id": sf["entity_id"]})


def near_dup_input(seed: int):
    """Source files whose contents are seeded token streams. A fixed share
    are near-duplicates: each copies a different original file with a few
    tokens replaced, so every near-duplicate group has exactly two files."""
    from name_matching_spark import datagen

    sf = datagen.source_files(n_repos=DOCS, files_per_repo=1, dup_rate=0.0, seed=seed)
    rng = np.random.default_rng(seed)
    letters = np.array(list(string.ascii_lowercase))
    vocab = np.array(
        ["".join(rng.choice(letters, size=int(rng.integers(3, 9)))) for _ in range(3000)],
        dtype=object,
    )
    tokens = rng.choice(vocab, size=(DOCS, DOC_TOKENS))
    groups = np.arange(DOCS, dtype=np.int64)
    order = rng.permutation(DOCS)
    n_dup = int(DOCS * NEAR_DUP_FRAC)
    for dup, base in zip(order[:n_dup], order[n_dup:2 * n_dup]):
        edits = rng.random(DOC_TOKENS) < TOKEN_EDIT_FRAC
        tokens[dup] = np.where(edits, rng.choice(vocab, size=DOC_TOKENS), tokens[base])
        groups[dup] = base
    ids = np.arange(DOCS, dtype=np.int64)
    content = [
        f"// {r}:{p}\n" + " ".join(t) for r, p, t in zip(sf["repo"], sf["path"], tokens)
    ]
    inp = pd.DataFrame({"doc_id": ids, "repo": sf["repo"], "path": sf["path"], "content": content})
    return inp, pd.DataFrame({"record_id": ids, "entity_id": groups})


GENERATORS = {
    "person_skewed": lambda seed: person_input(PERSON_ENTITIES, seed),
    "repo_diverse": repo_input,
    "checkpoint_resume": lambda seed: person_input(CHECKPOINT_ENTITIES, seed),
    "content_near_dup": near_dup_input,
}


class Dataset:
    """Paths and manifest of one generated (workload, seed) input."""

    def __init__(self, workload: str, seed: int):
        # the generators' sources (this file and the package's datagen) are
        # part of the key, so editing either regenerates the input
        from name_matching_spark import datagen

        digest = hashlib.sha1()
        for path in (__file__, datagen.__file__):
            with open(path, "rb") as f:
                digest.update(f.read())
        version = digest.hexdigest()[:8]
        self.dir = os.path.join(DATA, f"{workload}-{seed}-{version}")
        self.input = os.path.join(self.dir, "input.parquet")
        self.truth_path = os.path.join(self.dir, "truth.parquet")
        self.manifest_path = os.path.join(self.dir, "manifest.json")
        if not os.path.exists(self.manifest_path):
            tmp = self.dir + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            inp, truth = GENERATORS[workload](seed)
            inp.to_parquet(os.path.join(tmp, "input.parquet"), index=False)
            truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump({"workload": workload, "seed": seed, "rows": len(inp)}, f)
            shutil.rmtree(self.dir, ignore_errors=True)
            os.replace(tmp, self.dir)
        with open(self.manifest_path) as f:
            self.manifest = json.load(f)
        self.frame = pd.read_parquet(self.input)
        self.truth = pd.read_parquet(self.truth_path)

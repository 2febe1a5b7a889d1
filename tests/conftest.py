from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference/nlp-pipelines-conceptmapper/src/test/resources"
ARTICLE_TXT = f"{REF}/testInputTextFile/17608565.txt"
CL_OBO = f"{REF}/oboFiles/cl-basic.obo"
DOID_OBO = f"{REF}/oboFiles/doid.obo"
CL_A1 = f"{REF}/17608565_CL.a1"
DOID_A1 = f"{REF}/17608565_DOID.a1"
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
MINI_OBO = os.path.join(FIXTURES, "mini.obo")
# six CL annotations in the reference's .a1 format over SAMPLE_A1_TEXT
SAMPLE_A1 = os.path.join(FIXTURES, "sample_CL.a1")
SAMPLE_A1_TEXT = ("Neuronal progenitor cells and fibroblasts were compared with"
                  " T cells and B cells.")


def require_reference(*paths: str) -> None:
    """Skip the calling test, naming the first missing file, unless every
    reference file in *paths* exists; with the files present the test runs
    as written."""
    for path in paths:
        if not os.path.exists(path):
            pytest.skip(f"reference file missing: {path}")


@pytest.fixture(scope="session")
def spark():
    from kgpipe.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("kgpipe-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


def load_perfbench_gen():
    """The benchmark's seeded corpus/ontology generator
    (``perfbench/gen.py``), imported by path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_gen", os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "gen.py"))
    gen = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = gen  # dataclasses resolve their module
    spec.loader.exec_module(gen)
    return gen


def perfbench_obo_paths(directory, seed: int) -> dict[str, str]:
    """The generator's CL / GO_MF / PR ontologies for *seed*, written as
    OBO files under *directory*; {ontology: path}."""
    paths = {}
    for name, ont in load_perfbench_gen().make_ontologies(seed).items():
        path = os.path.join(str(directory), f"{name}-{seed}.obo")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(ont.obo)
        paths[name] = path
    return paths


def load_a1(path: str) -> set[tuple[str, int, int]]:
    """Parse a BioNLP .a1 standoff file (format: README.md:98-113 of the
    reference) into {(concept_id, begin, end)}."""
    spans: dict[str, tuple[int, int]] = {}
    out: set[tuple[str, int, int]] = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if not parts or not parts[0]:
                continue
            if parts[0].startswith("T"):
                _, b, e = parts[1].split(" ")
                spans[parts[0]] = (int(b), int(e))
            elif parts[0].startswith("N"):
                ref = parts[1].split(" ")
                b, e = spans[ref[1]]
                out.add((ref[2], b, e))
    return out


def prf(mine: set, gold: set) -> tuple[float, float, float]:
    tp = len(mine & gold)
    p = tp / len(mine) if mine else 0.0
    r = tp / len(gold) if gold else 0.0
    f = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f

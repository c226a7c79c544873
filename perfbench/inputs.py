"""Seeded inputs. The same ``--seed`` gives the same inputs; the program
only ever sees the generated files.

``fixtures.SEED`` is a module constant that every Python worker imports on
its own, so it cannot carry the benchmark seed. Instead the seed goes into
the conversation ids and sizes built here: a turn's payload is the pure
``fixtures.turn_row(conv_id, conv_no, turn_idx)``, so seeded ids give
seeded payloads. The PDF corpus takes the seed through
``build_big_binary_pdf(seed=...)`` and through ``random.Random`` streams
for the differential generators.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from pdf_parse_new_spark import fixtures

TAIL_TURNS = (1800, 2200)  # the few very long conversations
MEDIAN_TURNS = 12


@dataclass(frozen=True)
class Corpus:
    """A seeded transcript corpus: (conv_id, conv_no, n_turns) per
    conversation; payloads follow from ``fixtures.turn_row``."""

    seed: int
    convs: tuple[tuple[str, int, int], ...]

    @property
    def n_turns(self) -> int:
        return sum(n for _, _, n in self.convs)

    def rows(self, conv_ids) -> list[tuple]:
        want = set(conv_ids)
        return [fixtures.turn_row(cid, cno, t)
                for cid, cno, n in self.convs if cid in want
                for t in range(n)]

    def sample(self, n_short: int, n_tail: int, salt: str) -> list[str]:
        """Seeded conversation sample: ``n_short`` ordinary conversations
        plus ``n_tail`` of the long tail (salted concat spans blocks)."""
        rng = random.Random(f"perfbench:{self.seed}:sample:{salt}")
        tail = [c for c, _, n in self.convs if n >= TAIL_TURNS[0]]
        short = [c for c, _, n in self.convs if n < TAIL_TURNS[0]]
        return (rng.sample(short, min(n_short, len(short)))
                + rng.sample(tail, min(n_tail, len(tail))))


def make_corpus(seed: int, n_turns: int, n_tail: int) -> Corpus:
    rng = random.Random(f"perfbench:{seed}:sizes")
    sizes = [rng.randint(*TAIL_TURNS) for _ in range(n_tail)]
    total = sum(sizes)
    while total < n_turns:
        n = max(1, int(rng.gauss(MEDIAN_TURNS, MEDIAN_TURNS / 3)))
        sizes.append(n)
        total += n
    rng.shuffle(sizes)
    return Corpus(seed, tuple(
        (f"s{seed}-c{i:06d}", i, n) for i, n in enumerate(sizes)
    ))


def _gen_turns(batches):
    """mapInPandas body: expand (conv_id, conv_no, n_turns) to turn rows
    on the workers (imported there by module path)."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for pdf in batches:
        recs = [
            fixtures.turn_row(cid, int(cno), t)
            for cid, cno, n in zip(pdf.conv_id, pdf.conv_no, pdf.n_turns)
            for t in range(int(n))
        ]
        out = pd.DataFrame(recs, columns=cols)
        out["ts"] = pd.to_datetime(out["ts"], unit="s")
        yield out


def write_corpus(spark, corpus: Corpus, path: str, files: int = 8) -> None:
    """Materialize the corpus as parquet: payloads are generated on the
    workers, then spread round-robin over ``files`` even files."""
    seed_df = spark.createDataFrame(
        pd.DataFrame(list(corpus.convs),
                     columns=["conv_id", "conv_no", "n_turns"]),
        "conv_id string, conv_no int, n_turns int",
    ).repartition(spark.sparkContext.defaultParallelism * 4)
    (seed_df.mapInPandas(_gen_turns, fixtures.TRANSCRIPT_SCHEMA)
     .repartition(files)
     .write.mode("overwrite").parquet(path))


# ------------------------------------------------------------- PDF files --

# bench.py's huge-fixture page weight; about 3.8 MiB, so the operator is
# told that 2 MiB is big, and the document takes the chunked path with the
# default 200-page chunks (8 of them, two waves on four cores).
BIG_PAGES = 1_600
BIG_LINES = (120, 160)
BIG_FILE_BYTES = 2 << 20
DOCS_PER_GENERATOR = 32


def differential_generators():
    """(name, generator, needs_assembly) for all 32 differential
    generators, read from the lists ``scripts/hunt_fresh.py`` imports."""
    from scripts import hunt_fresh

    plain = {name for name, _ in hunt_fresh.PLAIN}
    return hunt_fresh.m, [
        (name, gen, name in plain)
        for name, gen in hunt_fresh.PLAIN + hunt_fresh.FULL
    ]


def small_docs(seed: int, per_generator: int = DOCS_PER_GENERATOR
               ) -> list[tuple[str, bytes]]:
    """``per_generator`` seeded documents from every generator, as
    (name, bytes)."""
    m, gens = differential_generators()
    out = []
    for name, gen, assemble in gens:
        rng = random.Random(f"perfbench:{seed}:doc:{name}")
        for i in range(per_generator):
            doc = gen(random.Random(rng.getrandbits(64)))
            out.append((f"{name}-{i:03d}", m._assemble(doc) if assemble else doc))
    return out


def big_doc(seed: int) -> bytes:
    return fixtures.build_big_binary_pdf(BIG_PAGES, seed=seed, lines=BIG_LINES)

"""Compare the generated benchmark tables with a reference data directory.

Usage (from the repository root)::

    python3 perfbench/compare_tables.py REFERENCE_DIR [SF]

``REFERENCE_DIR`` holds the ten reference parquet tables at scale factor
``SF`` (default 0.01).  For each table the script prints the row counts
and, per column, whether the generated values equal the reference values
row for row.  For ``documents`` it prints the text statistics the
curation ops depend on: words per document, vocabulary, distinct
bigrams, and the planted near-duplicates (texts ending in " dup", those
whose source text is gone or is itself a duplicate, exact duplicates).
For ``embeddings`` it prints the mean cosine similarity of vectors with
the same and with different labels.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

import datagen


def text_stats(texts: list[str]) -> dict:
    words = [t.split() for t in texts]
    n_words = np.array([len(w) for w in words])
    index = set(texts)
    dups = [t for t in texts if t.endswith(" dup")]
    return {
        "words_min_med_max": (int(n_words.min()), float(np.median(n_words)), int(n_words.max())),
        "chars_mean": round(float(np.mean([len(t) for t in texts])), 1),
        "vocabulary": len({w for ws in words for w in ws}),
        "bigrams": len({pair for ws in words for pair in zip(ws, ws[1:])}),
        "near_dups": len(dups),
        "near_dups_source_gone": sum(t[:-4] not in index for t in dups),
        "near_dups_of_near_dups": sum(t.endswith(" dup dup") for t in dups),
        "exact_dups": len(texts) - len(index),
    }


def cosine_by_label(table) -> tuple[float, float]:
    x = np.stack(table["embedding"].to_numpy(zero_copy_only=False))
    label = table["label"].to_numpy()
    sim = x @ x.T
    same = label[:, None] == label[None, :]
    other = ~same
    np.fill_diagonal(same, False)
    return round(float(sim[same].mean()), 3), round(float(sim[other].mean()), 3)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    ref_dir, sf = argv[0], float(argv[1]) if len(argv) > 1 else datagen.TABLES_SF
    generated = datagen.tables(datagen.TABLES_SEED, sf)
    for name, gen in generated.items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        print(f"{name}: rows reference {ref.num_rows}, generated {gen.num_rows}; "
              f"schema {'equal' if ref.schema.remove_metadata().equals(gen.schema) else 'DIFFERS'}")
        equal = [c for c in ref.column_names
                 if c in gen.column_names and ref.num_rows == gen.num_rows
                 and ref[c].combine_chunks().equals(gen[c].combine_chunks().cast(ref[c].type))]
        differ = [c for c in ref.column_names if c not in equal]
        print(f"  equal row for row: {', '.join(equal) or '-'}")
        if differ:
            print(f"  differ: {', '.join(differ)}")
            for c in differ:
                if c in gen.column_names and ref.num_rows == gen.num_rows and name != "embeddings":
                    n = sum(a != b for a, b in zip(ref[c].to_pylist(), gen[c].to_pylist()))
                    print(f"    {c}: {n} of {ref.num_rows} rows differ")
        if name == "documents":
            print(f"  reference {text_stats(ref['text'].to_pylist())}")
            print(f"  generated {text_stats(gen['text'].to_pylist())}")
        if name == "embeddings":
            print(f"  cosine (same label, other label): reference {cosine_by_label(ref)}, "
                  f"generated {cosine_by_label(gen)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

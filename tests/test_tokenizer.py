"""The one tokenizer: JVM ↔ Python agreement on hostile text, and Arrow
kernels that ship self-contained to Python workers."""

import os
import pickle
import subprocess
import sys

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from specs import HOSTILE_TEXTS

from calendar_event_entity_extraction_spark.functions.text import (
    jvm_tokenizer,
    repetition_keep_udf,
    repetition_struct_full_udf,
    tokens_col,
)
from calendar_event_entity_extraction_spark.operators.dedup import (
    minhash_sigs_udf,
    ngrams_udf,
)

PACKAGE = "calendar_event_entity_extraction_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_tokenizer_equals_tokens_col(spark):
    """jvm_tokenizer must split every hostile-text row exactly as the JVM's
    tokens_col does under the engine session (en locale pin): blanks,
    NBSP/U+202F, Turkish dotted/dotless i, Greek final sigma, sharp s,
    CJK, emoji, a 100,000-char token, CRLF, titlecase digraphs, ligatures,
    the Kelvin/Ångström/Ohm signs and null."""
    df = spark.createDataFrame(list(enumerate(HOSTILE_TEXTS)), "i long, text string")
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokens_col(F.col("text")).alias("toks")).collect()
    }
    tokenize = jvm_tokenizer()
    for i, t in enumerate(HOSTILE_TEXTS):
        want = None if t is None else tokenize(t)
        assert got[i] == want, (i, t if t is None else t[:40])


# Loads a cloudpickled kernel, calls it, and reports which package modules
# the call imported. Run with the repository off sys.path.
_CHILD = """
import os, pickle, sys
root = sys.argv[1]
sys.path[:] = [
    p for p in sys.path
    if not os.path.abspath(p or os.curdir).startswith(root)
]
payload, texts = pickle.load(sys.stdin.buffer)
out = pickle.loads(payload)(texts)
leaked = sorted(m for m in sys.modules if m.split(".")[0] == sys.argv[2])
pickle.dump((out, leaked), sys.stdout.buffer)
"""


@pytest.mark.parametrize(
    "name, kernel",
    [
        ("ngrams", lambda: ngrams_udf(3)),
        ("ngrams_distinct", lambda: ngrams_udf(3, distinct=True)),
        ("minhash_sigs", lambda: minhash_sigs_udf(perms=4)),
        ("repetition_keep", repetition_keep_udf),
        ("repetition_struct_full", repetition_struct_full_udf),
    ],
)
def test_kernel_ships_self_contained(spark, name, kernel, tmp_path):
    """A text kernel's function must unpickle and run in a Python process
    that cannot import the package (an executor without the package on
    its path): the tokenizer and helpers travel in its closure by value.
    A kernel that called a module-level helper would be pickled by
    reference and fail there with ModuleNotFoundError. (``spark``: the
    pandas_udf decorator needs an active session.)"""
    func = kernel().func
    texts = pd.Series(
        ["the quick brown fox jumps over the lazy dog the quick brown fox"]
        + HOSTILE_TEXTS,
        dtype=object,
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, ROOT, PACKAGE],
        input=pickle.dumps((cloudpickle.dumps(func), texts)),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        check=False,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    out, leaked = pickle.loads(proc.stdout)
    assert leaked == [], (name, leaked)
    want = func(texts)
    if isinstance(want, pd.DataFrame):
        pd.testing.assert_frame_equal(out, want)
    else:
        assert out.tolist() == want.tolist(), name

"""Model-based language ID (ml/language.py — VERDICT r5 #6): the hashed
char-n-gram classifier distilled from the marker heuristic must beat the
heuristic on marker-free text, hit >=0.9 holdout accuracy on a labeled
multilingual fixture, and degrade to the heuristic on corpora with <2
confident classes."""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.ml.language import doc_language_classifier

VOCAB = {
    "en": ["house", "water", "good", "day", "night", "street", "people",
           "world", "time", "work", "school", "children"],
    "es": ["casa", "agua", "bueno", "dia", "noche", "calle", "gente",
           "mundo", "tiempo", "trabajo", "escuela", "ninos"],
    "de": ["haus", "wasser", "gut", "tag", "nacht", "strasse", "leute",
           "welt", "zeit", "arbeit", "schule", "kinder"],
    "fr": ["maison", "eau", "bon", "jour", "nuit", "rue", "gens",
           "monde", "temps", "travail", "ecole", "enfants"],
    "zh": ["fangzi", "shui", "hao", "tian", "wanshang", "jiedao", "renmen",
           "shijie", "shijian", "gongzuo", "xuexiao", "haizi"],
}
MARKERS = {
    "en": ["the", "and", "with", "from"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "und", "nicht"],
    "fr": ["le", "la", "et", "que"],
    "zh": ["de", "le", "shi", "bu"],
}


def _corpus(spark, per_lang=60, markerless_tail=10, seed=7):
    rnd = random.Random(seed)
    rows, i = [], 0
    for lang in sorted(VOCAB):
        for j in range(per_lang):
            words = [rnd.choice(VOCAB[lang]) for _ in range(30)]
            if j < per_lang - markerless_tail:
                # marker words sprinkled in: the heuristic's confident band
                for _ in range(4):
                    words.insert(rnd.randrange(len(words)), rnd.choice(MARKERS[lang]))
            rows.append((i, lang, " ".join(words)))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_language_model_beats_heuristic_on_holdout(spark):
    docs = _corpus(spark)
    out = doc_language_classifier(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).cache()
    hold = out.filter("split = 'holdout'")
    n = hold.count()
    assert n >= 30
    acc = hold.filter("predicted_lang = lang").count() / n
    assert acc >= 0.9, acc
    # marker-free docs: the heuristic says 'und', the model still answers
    markerless = out.filter("heuristic_lang = 'und'")
    m = markerless.count()
    assert m >= 30  # the fixture built ~50
    model_acc = markerless.filter("predicted_lang = lang").count() / m
    assert model_acc >= 0.8, model_acc
    out.unpersist()


def test_language_model_supervised_labels(spark):
    """label_col distillation: trains on the corpus' own labels."""
    docs = _corpus(spark, per_lang=40, markerless_tail=40)  # NO markers at all
    out = doc_language_classifier(docs, label_col="lang").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    hold = out.filter("split = 'holdout'")
    acc = hold.filter("predicted_lang = lang").count() / hold.count()
    assert acc >= 0.9, acc


def test_language_model_degenerate_corpus_falls_back(spark):
    """<2 confident classes: no fit, heuristic passthrough."""
    rnd = random.Random(3)
    rows = [
        (i, " ".join(["the"] + [rnd.choice(VOCAB["en"]) for _ in range(20)]))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = doc_language_classifier(docs)
    got = out.select("predicted_lang", "model_lang").distinct().collect()
    assert {r.predicted_lang for r in got} == {"en"}
    assert {r.model_lang for r in got} == {None}


def test_language_model_split_deterministic(spark):
    docs = _corpus(spark, per_lang=20)
    a = {r.doc_id: r.split for r in doc_language_classifier(docs).collect()}
    b = {r.doc_id: r.split for r in doc_language_classifier(docs).collect()}
    assert a == b


def test_language_model_null_text(spark):
    # ADVICE r6 (low): NULL text crashed RegexTokenizer inside the
    # model-based classifier; the heuristic path tolerates NULLs.
    from jobanalytics_bigdataproject_spark.ml.language import (
        doc_language_classifier,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs away"),
            (2, None),
            (3, "el perro corre por la calle y salta sobre la mesa grande"),
        ],
        "doc_id int, text string",
    )
    out = doc_language_classifier(docs, text_col="text")
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].predicted_lang is not None  # scored (fallback), not crashed


def test_language_model_no_tmpdir_leak(spark, tmp_path, monkeypatch):
    # ADVICE r6 (low): every save/load round-trip left a mkdtemp behind.
    import tempfile

    from jobanalytics_bigdataproject_spark.ml.language import (
        doc_language_classifier,
    )

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        docs = spark.createDataFrame(
            [
                (i, "the quick brown fox jumps over the lazy dog again and again")
                for i in range(30)
            ]
            + [
                (100 + i, "el perro grande corre por la calle y salta la mesa")
                for i in range(30)
            ],
            "doc_id int, text string",
        )
        doc_language_classifier(docs, text_col="text").collect()
        leftovers = [
            p
            for p in glob.glob(str(tmp_path / "*"))
            if os.path.isdir(p)
        ]
        assert leftovers == []
    finally:
        tempfile.tempdir = None

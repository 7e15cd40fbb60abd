"""Kafka auth options (sources/kafka.py ``security_options``): the
option map for each TLS / SASL combination, and the SASL credentials
round-tripping through the tokenizer Kafka's ``JaasConfig`` parses
``kafka.sasl.jaas.config`` with. Needs no broker and no connector."""

from __future__ import annotations

import pytest
from py4j.java_gateway import get_field

from kafka_go_streamer_spark.sources.kafka import security_options

MODULE = "org.apache.kafka.common.security.plain.PlainLoginModule"


def test_option_maps():
    assert security_options(
        sasl_username="u",
        sasl_password="p",
        tls=True,
        truststore_location="/ts.jks",
        truststore_password="tp",
    ) == {
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.mechanism": "PLAIN",
        "kafka.sasl.jaas.config": (
            f'{MODULE} required username="u" password="p";'
        ),
        "kafka.ssl.truststore.location": "/ts.jks",
        "kafka.ssl.truststore.password": "tp",
    }
    assert security_options(sasl_username="u", sasl_password="p") == {
        "kafka.security.protocol": "SASL_PLAINTEXT",
        "kafka.sasl.mechanism": "PLAIN",
        "kafka.sasl.jaas.config": (
            f'{MODULE} required username="u" password="p";'
        ),
    }
    assert security_options(
        tls=True, keystore_location="/ks.jks", keystore_password="kp"
    ) == {
        "kafka.security.protocol": "SSL",
        "kafka.ssl.keystore.location": "/ks.jks",
        "kafka.ssl.keystore.password": "kp",
    }
    assert security_options(tls=True, insecure_skip_verify=True) == {
        "kafka.security.protocol": "SSL",
        "kafka.ssl.endpoint.identification.algorithm": "",
    }
    assert security_options() == {}


def test_sasl_username_without_password_is_rejected():
    with pytest.raises(ValueError, match="without a password"):
        security_options(sasl_username="u", tls=True)


def _jaas_tokens(spark, text):
    """(ttype, sval) tokens of ``text`` under JaasConfig's tokenizer
    settings: slash comments, and ``-``, ``_``, ``$`` as word chars."""
    io = spark._jvm.java.io
    tok = io.StreamTokenizer(io.StringReader(text))
    tok.slashSlashComments(True)
    tok.slashStarComments(True)
    for c in "-_$":
        tok.wordChars(ord(c), ord(c))
    out = []
    while tok.nextToken() != io.StreamTokenizer.TT_EOF:
        out.append((get_field(tok, "ttype"), get_field(tok, "sval")))
    return out


def test_sasl_credentials_round_trip_jaas_tokenizer(spark):
    user, password = 'ad"min', 'p"a\\b; c/*d'
    jaas = security_options(sasl_username=user, sasl_password=password)[
        "kafka.sasl.jaas.config"
    ]
    word, quote = spark._jvm.java.io.StreamTokenizer.TT_WORD, ord('"')
    assert _jaas_tokens(spark, jaas) == [
        (word, MODULE),
        (word, "required"),
        (word, "username"),
        (ord("="), None),
        (quote, user),
        (word, "password"),
        (ord("="), None),
        (quote, password),
        (ord(";"), None),
    ]

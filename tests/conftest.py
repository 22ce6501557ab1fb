import os

import pytest

from assignment_etl_spark.caching import release_scoped_caches
from assignment_etl_spark.session import get_spark

# A bounded driver heap for the test session: the engine's 24g default lets
# the JVM grow past the memory of a small host over the full suite.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_query_caches():
    """The suite is a long-lived consumer of the session: release every
    query-scoped persist a test's builders registered once the test ends,
    so the blocks do not pile up in the driver heap across the run."""
    yield
    release_scoped_caches()


# --------------------------------------------------------------------------
# Engine-authored fixture files. Same messiness taxonomy as the reference's
# adversarial fixtures (SURVEY §5.2 / FIXTURES.md) but original data: BOM +
# CRLF + padded cells; mixed delimiters + repeated headers + ragged rows;
# namespaced XML with missing elements.
# --------------------------------------------------------------------------

PATIENTS_CSV = (
    "﻿ patient_id ,given name,family_name,dob,sex, height ,weight\r\n"
    "X-0001,Ana,García,1991-02-03,F, 170 cm ,65 kg\r\n"
    "X-0002,Ben,Stone,12/31/1992,M,68 in,150 lb\r\n"
    "X-0003,Chloé,MÜLLER,31-12-1984,F,5ft 6in,54.5\r\n"
    "X-0004,Dan,Okafor,,M,1.75,150\r\n"
    'X-0005,Eve,Nilsen,"   ",F,162,n/a\r\n'
    "X-0006,Finn,O'Neil,1993/04/05,U,165cm,300 kg\r\n"
    "X-0007,Grace,Hopper,1906-12-09,X,tall,no weight\r\n"
    "X-0008,李,雷,2000-01-01,M,1.8m,90 kg\r\n"
    "X-0009,Hugo,Da Silva,05/06/1994,O,5'6\",135\r\n"
    "X-0002,Benny,Stone,12/31/1992,M,68 in,151 lb\r\n"
    "X-0010,Ana,García,1991-02-03,F,170 cm,65.4 kg\r\n"
    "X-0011,,Smith,1999-9-9,,170 cm,65 kg\r\n"
    "X-0012,Ｊｏｈｎ,DOE,1988-05-05,M,180 cm,80 kg\r\n"
)

ENCOUNTERS_CSV = (
    "encounter_id,patient_id,admit_dt,discharge_dt,encounter_type,source_file\n"
    "E-100,X-0001,2025-01-10T08:00:00+01:00,2025-01-12T10:30:00+01:00,INPATIENT,fileA.csv\n"
    "E-101,X-0002,01/15/2025 09:30,01/15/2025 14:00,OUTPATIENT,fileA.csv\n"
    "E-102, X-0003 ,16-01-2025 22:15,17-01-2025 06:45,ED,fileA.csv\n"
    "E-103,X-0004,2025-01-18T12:00:00Z,2025-01-17T08:00:00Z,INPATIENT,fileA.csv\n"
    "\n"
    "encounter_id,patient_id,admit_dt,discharge_dt,encounter_type,source_file\n"
    "E-104,X-0005,2025/01/20 07:45,,OUTPATIENT,fileB.csv\n"
    "E-105,X-9999,2025-01-21 10:00:00,2025-01-22 09:00,TELE,fileB.csv\n"
    "E-101;X-0002;2025-01-15T09:30:00;2025-01-15T14:00:00;OUTPATIENT;fileB.csv;EXTRA\n"
    "E-106,X-0006,not a date,2025-01-25 10:00:00,ED,fileB.csv\n"
    "E-107,X-0007,2025-01-26 11:00\n"
)

DIAGNOSES_XML = """<?xml version="1.0" encoding="UTF-8"?>
<Diagnoses xmlns="http://example.org/diagnosis" version="2">
  <Diagnosis>
    <encounterId>E-100</encounterId>
    <code system="ICD-10">E11.9</code>
    <isPrimary>true</isPrimary>
    <recordedAt>2025-01-10T09:00:00+01:00</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <encounterId>E-100</encounterId>
    <code system="ICD-10">I10</code>
    <isPrimary>false</isPrimary>
    <recordedAt>2025-01-10</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <encounterId>E-101</encounterId>
    <code system="SNOMED">38341003</code>
    <recordedAt>2025-01-15T10:00:00</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <code system="ICD-10">J45</code>
    <isPrimary>true</isPrimary>
    <recordedAt>2025-01-16T08:00:00</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <encounterId>E-103</encounterId>
    <isPrimary>true</isPrimary>
    <recordedAt>2025-01-18T13:00:00</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <encounterId>E-100</encounterId>
    <code system="ICD-10">E11.9</code>
    <isPrimary>false</isPrimary>
    <recordedAt>2025-02-01T00:00:00</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <encounterId>E-104</encounterId>
    <code system="ICD-10">ZZZ</code>
    <isPrimary>false</isPrimary>
    <recordedAt>2035-01-01T00:00:00</recordedAt>
  </Diagnosis>
  <Diagnosis>
    <code system="ICD-10">R07.9</code>
    <recordedAt>2025-01-19</recordedAt>
  </Diagnosis>
</Diagnoses>
"""


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    (d / "patients.csv").write_bytes(PATIENTS_CSV.encode("utf-8"))
    (d / "encounters.csv").write_bytes(ENCOUNTERS_CSV.encode("utf-8"))
    (d / "diagnoses.xml").write_bytes(DIAGNOSES_XML.encode("utf-8"))
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"

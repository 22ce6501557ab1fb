# Containerized engine: same service surface as the reference image
# (ETL batch run + dashboard server; reference Dockerfile:1-24) on the
# stack the test suite runs: Python 3.11, Java 17, PySpark 4.1.2 (local
# mode by default; spark-submit against a cluster master at scale).
FROM python:3.11-slim-bookworm

RUN apt-get update \
 && apt-get install -y --no-install-recommends openjdk-17-jre-headless \
 && rm -rf /var/lib/apt/lists/*
RUN pip install --no-cache-dir pyspark==4.1.2 pandas==2.2.2 pyarrow==16.1.0 numpy==1.26.4

WORKDIR /app

# Postgres JDBC driver for the warehouse load (reference loads via
# SQLAlchemy/psycopg2; Spark side is the jdbc datasource)
ADD https://jdbc.postgresql.org/download/postgresql-42.7.3.jar \
    /usr/local/lib/python3.11/site-packages/pyspark/jars/

COPY assignment_etl_spark/ /app/assignment_etl_spark/

ENV PYTHONPATH=/app
# Local mode by default; at scale point spark.master at the cluster
# (e.g. SPARK_MASTER=spark://master:7077 or k8s://...)
ENV SPARK_GRAFT_CPUS=4

# The inputs are not baked in: mount a directory holding patients.csv,
# encounters.csv and diagnoses.xml at /app/data, e.g.
#   docker run -v "$PWD/data:/app/data:ro" -p 8501:8501 <image>
VOLUME /app/data

# Run the ETL, then serve the dashboard — the reference image's CMD
# (etl.py; streamlit run ...) with the engine's CLI. The server binds
# 0.0.0.0 so the published port reaches it. Compose overrides this per
# service.
CMD ["bash", "-c", "python -m assignment_etl_spark run-etl \
      --patients data/patients.csv --encounters data/encounters.csv \
      --diagnoses data/diagnoses.xml --store /app/store \
   && python -m assignment_etl_spark serve-dashboard --store /app/store \
      --host 0.0.0.0 --port 8501"]

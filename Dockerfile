# Spark batch-job container for the graft engine — the deployable
# analog of the reference's per-job Dockerflow images
# (/root/reference/Dockerfile:1-15 and jobs/*/Dockerfile): same
# conventions (fixed uid 10001, /app home, drop root, version.json for
# the Dockerflow version endpoint), but the payload is one thin Scala
# app jar launched by spark-submit instead of a pip-installed package.
#
# Build:  sbt package && docker build -t graft-etl .
# Run:    docker run graft-etl --data-dir <warehouse> --out <dir> \
#           [--jobs webcompat-kb,llm-prep] [--no-write] [--list]
# Submitted Spark conf wins: graft's settings (graft.GraftSession) only
# fill in what is missing, and the job logs the effective master,
# shuffle partition count and extensions at start. The arguments after
# the image name go to graft.Main, so pass conf around them:
#   - the master through a mounted /opt/spark/conf/spark-defaults.conf
#     (spark.master k8s://...) or -e MASTER=k8s://...; spark-submit
#     itself sets local[*] when neither is given, and a -Dspark.master
#     in SPARK_SUBMIT_OPTS does not win over that;
#   - any other key (e.g. spark.sql.shuffle.partitions, which defaults
#     to SPARK_GRAFT_CPUS, else 4) in spark-defaults.conf or as -D<key>=<value> in SPARK_SUBMIT_OPTS.
FROM apache/spark:4.1.2-scala2.13-java17-ubuntu

# https://github.com/mozilla-services/Dockerflow/blob/master/docs/building-container.md
ARG USER_ID="10001"
ARG GROUP_ID="app"
ARG HOME="/app"
ENV HOME=${HOME}

USER root
RUN groupadd --gid ${USER_ID} ${GROUP_ID} \
    && useradd --create-home --uid ${USER_ID} --gid ${GROUP_ID} --home-dir ${HOME} ${GROUP_ID}

WORKDIR ${HOME}

COPY version.json .
COPY target/scala-2.13/dockeretlspark_2.13-0.1.0.jar app.jar

# Drop root and change ownership of the application folder to the user
RUN chown -R ${USER_ID}:${GROUP_ID} ${HOME}
USER ${USER_ID}

ENTRYPOINT ["/opt/spark/bin/spark-submit", "--class", "graft.Main", "/app/app.jar"]

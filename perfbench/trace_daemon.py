"""Python daemon module for traced runs (``spark.python.daemon.module``).

Spark starts this module in place of ``pyspark.daemon``. It installs the
worker-side hooks of ``perfbench.trace`` and then runs the stock daemon, so
every task worker it forks inherits the hooks.
"""

from pyspark import daemon

from perfbench.trace import install_worker_hooks

if __name__ == "__main__":
    install_worker_hooks()
    daemon.manager()

import pytest


@pytest.fixture(scope='session')
def spark(tmp_path_factory):
    from perfbench.harness import Sessions, confine_temp_files

    work = str(tmp_path_factory.mktemp('perfbench'))
    confine_temp_files(work)
    sessions = Sessions(work)
    yield sessions.start()
    sessions.close()
